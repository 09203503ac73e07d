"""SemDeDup: Spark == DuckDB oracle == numpy reference, exactly.

The determinism spec (id-ordered init, round-6 centroids, index
tie-break, round-6 cosine) is replayed by three independent
implementations; any drift in clustering or dup marking fails the
hash-style frame compare.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from earth_data_kit_spark.operators.semdedup import (
    ROUND_C,
    kmeans_assign,
    semdedup,
    semdedup_oracle_sql,
)

SF = "/root/testdata/sf0.001"
K, ITERS, TAU = 8, 3, 0.9

# the dd_embedding_pairs twin-planting fixture (one coordinate
# negated → cos ≈ 0.94-0.99, comfortably above TAU=0.9 while the raw
# corpus max cosine is ≈0.51)
PLANT_SQL = (
    "(SELECT vec_id, embedding FROM embeddings UNION ALL "
    "SELECT vec_id + 100000 AS vec_id, "
    "list_transform(embedding, (v, i) -> CASE WHEN i - 1 = vec_id % 64"
    " THEN -v ELSE v END) AS embedding "
    "FROM embeddings WHERE vec_id % 50 = 0) corpus"
)


def plant(pdf):
    twins = pdf[pdf["vec_id"] % 50 == 0].copy()
    twins["embedding"] = [
        np.where(np.arange(len(e)) == vid % 64, -np.asarray(e), e)
        for vid, e in zip(twins["vec_id"], twins["embedding"])
    ]
    twins["vec_id"] = twins["vec_id"] + 100000
    return pd.concat([pdf, twins], ignore_index=True)


def numpy_semdedup(pdf, k, iters, tau):
    ids = pdf["vec_id"].values
    order = np.argsort(ids, kind="stable")
    V = np.stack(pdf["embedding"].values)[order].astype(np.float64)
    ids = ids[order]
    C = V[:k].copy()
    for _ in range(iters):
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(2)
        a = d2.argmin(1)  # argmin returns first (smallest index) on ties
        for c in range(k):
            m = a == c
            if m.any():
                C[c] = np.round(V[m].mean(0), ROUND_C)
    d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(2)
    a = d2.argmin(1)
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(n @ n.T, ROUND_C)
    dup = np.zeros(len(ids), bool)
    for j in range(len(ids)):
        same = (a == a[j]) & (ids < ids[j])
        dup[j] = bool((cos[same, j] >= tau).any())
    return pd.DataFrame({"vec_id": ids, "cluster": a, "is_dup": dup})


@pytest.fixture(scope="module")
def emb_pdf():
    return plant(
        pd.read_parquet(f"{SF}/embeddings.parquet")[["vec_id", "embedding"]]
    )


def test_margins_are_comfortable(emb_pdf):
    """Guard the cross-engine determinism assumption: no cosine sits
    within 1e-4 of tau and no row's top-2 centroid distances are
    within 1e-6 — if the synthetic data ever changes to violate
    this, the exact-match tests below lose their footing."""
    ref = numpy_semdedup(emb_pdf, K, ITERS, TAU)
    V = np.stack(emb_pdf.sort_values("vec_id")["embedding"].values).astype(
        np.float64
    )
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = n @ n.T
    np.fill_diagonal(cos, 0)
    assert not ((np.abs(cos - TAU) < 1e-4).any())
    assert ref["is_dup"].sum() > 0  # the gate is non-vacuous


def test_spark_matches_numpy(spark, emb_pdf):
    emb = spark.createDataFrame(emb_pdf)
    got = (
        semdedup(emb, k=K, iters=ITERS, tau=TAU)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ref = numpy_semdedup(emb_pdf, K, ITERS, TAU).reset_index(drop=True)
    assert (got["vec_id"].values == ref["vec_id"].values).all()
    assert (got["cluster"].values == ref["cluster"].values).all()
    assert (got["is_dup"].values == ref["is_dup"].values).all()
    assert not got["capped"].any()


def test_duckdb_oracle_matches_numpy(emb_pdf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{SF}/embeddings.parquet')"
    )
    got = (
        con.execute(semdedup_oracle_sql(K, ITERS, TAU, table=PLANT_SQL))
        .df()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ref = numpy_semdedup(emb_pdf, K, ITERS, TAU).reset_index(drop=True)
    assert (got["cluster"].values == ref["cluster"].values).all()
    assert (got["is_dup"].values == ref["is_dup"].values).all()


def test_cluster_cap_skips_pairs(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": range(40),
            "embedding": [
                np.full(8, 1.0 + 1e-3 * (i % 2), dtype=np.float32)
                for i in range(40)
            ],
        }
    )
    out = semdedup(
        spark.createDataFrame(pdf), k=2, iters=2, tau=0.5, max_cluster=10
    ).toPandas()
    # everything lands in few clusters > cap → no pair explosion
    assert out["capped"].any()
    assert not out.loc[out["capped"], "is_dup"].any()


def test_no_python_in_assignment_plan(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        kmeans_assign(emb, k=4, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_recommended_k_bounds_pairs(spark):
    """The k-sizing rule (SCALE.md §semdedup): with k =
    recommended_k(n, budget), the ACTUAL within-cluster pair count on
    a real clustering stays within a small factor of the budget —
    the cap alone (a skew guard) bounds nothing."""
    from earth_data_kit_spark.operators.semdedup import (
        kmeans_assign,
        recommended_k,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    budget = 4_000
    k = recommended_k(n, budget)
    # the rule's own arithmetic: balanced-cluster expectation fits
    assert n * n / (2.0 * k) <= budget
    sizes = (
        kmeans_assign(emb, k=k, iters=2)
        .groupBy("cluster")
        .count()
        .toPandas()["count"]
    )
    pairs = int((sizes * (sizes - 1) // 2).sum())
    # real clusters are imbalanced; allow 5x the balanced expectation
    assert pairs <= 5 * budget, (k, pairs)
    # and the rule is monotone: a bigger corpus demands more clusters
    assert recommended_k(10 * n, budget) >= k


@pytest.mark.parametrize("name", ["kmeans_assign", "semdedup"])
def test_call_leaves_no_cache(spark, name):
    """Cache hygiene: the iteration and assignment caches are scoped
    to the call — after the result is collected the session's cache
    manager is empty."""
    fn = {"kmeans_assign": kmeans_assign, "semdedup": semdedup}[name]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    spark.catalog.clearCache()
    fn(emb, k=8, iters=3).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
