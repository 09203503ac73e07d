"""SemDeDup: semantic near-duplicate removal via k-means clusters.

The embedding-space dedup the LSH family can't do: SRP-LSH
(``dedup.embedding_neardup_pairs``) finds pairs above a cosine threshold
by random-hyperplane banding; SemDeDup (Abbas et al. 2023,
arXiv:2303.09540 — public method) instead clusters the corpus with
k-means and searches for near-duplicates ONLY within a cluster —
O(Σ|cluster|²) instead of all-pairs, with cluster count the
recall/cost knob.  No reference-repo analog (the reference has no
embedding surface at all).

Determinism contract (the DuckDB oracle in ``semdedup_oracle_sql``
replays it bit-for-bit):

* centroids init = embeddings of the ``k`` smallest ids, cluster
  index in id order;
* Lloyd's iteration: assign to argmin (squared L2, cluster index as
  tie-break), recompute centroids as the element-wise mean ROUNDED
  to 6 decimals (kills cross-engine last-ulp drift in the running
  sums); an emptied cluster keeps its previous centroid;
* after ``iters`` rounds, a row is a duplicate iff some SAME-CLUSTER
  row with a smaller id has round(cosine, 6) ≥ tau.

Scale posture: each iteration is one shuffle (groupBy id) plus one
map-side partial agg (groupBy cluster, pos); the only driver state
is the k×d centroid matrix (same bounded-collect budget as the IVF
centroid table ``similarity.build_ivf_index`` writes).  The pair
search shuffles on ``cluster`` and is capped by ``max_cluster``
against degenerate skew (a cluster bigger than the cap is skipped
and reported, never exploded into |c|² pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_C = 6  # centroid / cosine rounding — part of the determinism spec


def recommended_k(n_rows: int, pair_budget: int = 10_000_000_000) -> int:
    """Cluster-count sizing rule (VERDICT r6 task 6): the pair search
    computes Σ|c|·(|c|−1)/2 cosine pairs, ≈ n²/(2k) under balanced
    clusters, so holding the TOTAL pair work to ``pair_budget``
    requires

        k ≥ n² / (2 · pair_budget)      ⇔      E[|c|] ≤ √(2·budget·…/n)…

    equivalently E[|c|] = n/k ≤ 2·pair_budget/n.  The ``max_cluster``
    cap alone is NOT a cost bound — a cap-sized 100k cluster is still
    5×10⁹ pairs; the cap protects against a single degenerate cluster,
    this rule sizes k so the EXPECTED work fits the budget.  Numbers
    for the 100 TB posture are in SCALE.md §semdedup.

    Default budget 10¹⁰ pairs ≈ a few core-hours of fused
    dot-products.  Returns k clamped to ≥ 16."""
    import math

    return max(16, math.ceil(n_rows * n_rows / (2.0 * float(pair_budget))))


def _sq_dist(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic distributed Lloyd's — returns ``id_col, cluster``
    (plus ``_v``, the double-cast vector, for downstream reuse).

    Executor math is pure Column (zip_with/aggregate folds —
    JVM-side; note HOFs are CodegenFallback, i.e. interpreted eval,
    but there is no Python crossing); the driver holds only the k×d
    centroid matrix between iterations.  The argmin assignment is a
    shuffle-free map-side projection over centroid literals (r7), so
    the only exchange per iteration is the k×d-bounded partial-mean
    aggregation.  The iteration cache is released before returning;
    the result is a lazy plan over ``emb``."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col), v.alias("_v")).persist()
    # Map-side argmin (r7, guide §2.4 remove shuffles outright): the
    # centroids are k×d driver-held floats, so the nearest-centroid
    # assignment is a pure projection — an array of (d2, cluster)
    # structs over centroid LITERALS reduced by array_min, whose
    # lexicographic struct ordering is exactly the old
    # min(struct(_d2, cluster)) tie-break.  The previous shape
    # (crossJoin(broadcast(centroids)) → groupBy(id)) shuffled the
    # whole corpus WITH its vectors once per iteration plus once for
    # the final assignment; now the only per-iteration exchange is
    # the k×d-bounded partial-mean aggregation.  Same doubles, same
    # fold order ⇒ bit-identical distances (dd_semdedup stays
    # oracle-gated against the DuckDB k-means replay).
    def _argmin_cluster(cs):
        return F.array_min(
            F.array(*[
                F.struct(
                    _sq_dist(
                        F.col("_v"), F.array(*[F.lit(float(x)) for x in c])
                    ).alias("_d2"),
                    F.lit(i).alias("cluster"),
                )
                for i, c in enumerate(cs)
            ])
        )["cluster"]

    try:
        cents = [r["_v"] for r in base.orderBy(id_col).limit(k).collect()]
        d = len(cents[0])
        for _ in range(iters):
            assign = base.select(
                F.col(id_col), _argmin_cluster(cents).alias("cluster"), "_v"
            )
            means = (
                assign.select("cluster", F.posexplode("_v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.round(F.avg("val"), ROUND_C).alias("m"))
                .collect()
            )
            new = {c: list(old) for c, old in enumerate(cents)}  # empty keeps old
            got: dict[int, list] = {}
            for r in means:
                got.setdefault(r["cluster"], [0.0] * d)[r["pos"]] = r["m"]
            new.update(got)
            cents = [new[i] for i in range(k)]
    finally:
        base.unpersist()
    return base.select(
        F.col(id_col), _argmin_cluster(cents).alias("cluster"), "_v"
    )


def semdedup(
    emb: DataFrame,
    k: int = 16,
    iters: int = 4,
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster: int = 100_000,
) -> DataFrame:
    """``id_col, cluster, is_dup`` — ``is_dup`` true iff a smaller-id
    row in the same k-means cluster has round(cos, 6) ≥ tau.

    The pair search joins on ``cluster`` (one shuffle; broadcastable
    when the assignment side is small) and never materializes pairs
    for clusters over ``max_cluster`` rows — those are left
    undeduped (is_dup false) rather than exploding |c|² at skew; cap
    hits are visible via the ``capped`` column.

    Sizing ``k`` (the cap is a skew guard, not a cost bound): choose
    ``k ≥ n²/(2·pair_budget)`` — see ``recommended_k`` and the
    SCALE.md §semdedup arithmetic — so the expected Σ|c|² pair work
    fits the budget; tests/test_semdedup.py pins the pair-count
    bound.

    The call is eager: the assignment is cached for the call only and
    the result is materialized by ``localCheckpoint`` before the cache
    is released."""
    assign = kmeans_assign(emb, k, iters, vec_col, id_col).persist()
    sizes = assign.groupBy("cluster").count()
    a = (
        assign.join(F.broadcast(sizes), "cluster")
        .withColumn("capped", F.col("count") > max_cluster)
        .drop("count")
        .withColumn(
            "_n", F.sqrt(_dot(F.col("_v"), F.col("_v")))
        )
    )
    left = a.where(~F.col("capped")).select(
        "cluster",
        F.col(id_col).alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    right = a.where(~F.col("capped")).select(
        "cluster",
        F.col(id_col).alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        ROUND_C,
    )
    dups = (
        left.join(right, "cluster")
        .where(F.col("_ida") < F.col("_idb"))
        .where(cos >= F.lit(tau))
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    out = a.join(dups, id_col, "left").select(
        id_col,
        "cluster",
        F.coalesce("_dup", F.lit(False)).alias("is_dup"),
        "capped",
    )
    try:
        return out.localCheckpoint()
    finally:
        assign.unpersist()


def semdedup_oracle_sql(
    k: int = 16,
    iters: int = 4,
    tau: float = 0.95,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying the exact determinism spec above (CTE
    chain, one assign+centroid pair per Lloyd's iteration)."""
    d2 = (
        "list_sum(list_transform(list_zip(e._v, c.cvec),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )
    ctes = [
        f"emb AS (SELECT {id_col}, list_transform({vec_col},"
        f" x -> CAST(x AS DOUBLE)) AS _v FROM {table})",
        f"c0 AS (SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cluster,"
        f" _v AS cvec FROM emb ORDER BY {id_col} LIMIT {k})",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(
            f"a{i} AS (SELECT {id_col}, _v, cluster FROM ("
            f"SELECT e.{id_col}, e._v, c.cluster, row_number() OVER ("
            f"PARTITION BY e.{id_col} ORDER BY {d2}, c.cluster) AS rn"
            f" FROM emb e CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        ctes.append(
            f"m{i} AS (SELECT cluster, list(m ORDER BY pos) AS cvec FROM ("
            f"SELECT cluster, pos, round(avg(val), {ROUND_C}) AS m FROM ("
            f"SELECT cluster, unnest(_v) AS val,"
            f" generate_subscripts(_v, 1) AS pos FROM a{i})"
            f" GROUP BY cluster, pos) GROUP BY cluster)"
        )
        ctes.append(
            f"c{i} AS (SELECT p.cluster, coalesce(m.cvec, p.cvec) AS cvec"
            f" FROM {prev} p LEFT JOIN m{i} m USING (cluster))"
        )
        prev = f"c{i}"
    ctes.append(
        f"af AS (SELECT {id_col}, _v, cluster FROM ("
        f"SELECT e.{id_col}, e._v, c.cluster, row_number() OVER ("
        f"PARTITION BY e.{id_col} ORDER BY {d2}, c.cluster) AS rn"
        f" FROM emb e CROSS JOIN {prev} c) WHERE rn = 1)"
    )
    ctes.append(
        "dups AS (SELECT DISTINCT b.%s FROM af a JOIN af b USING (cluster)"
        " WHERE a.%s < b.%s AND round("
        "list_sum(list_transform(list_zip(a._v, b._v), x -> x[1] * x[2]))"
        " / (sqrt(list_sum(list_transform(a._v, x -> x * x)))"
        " * sqrt(list_sum(list_transform(b._v, x -> x * x)))), %d) >= %r)"
        % (id_col, id_col, id_col, ROUND_C, tau)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT a.{id_col}, a.cluster,"
        f" (d.{id_col} IS NOT NULL) AS is_dup, FALSE AS capped"
        f" FROM af a LEFT JOIN dups d USING ({id_col})"
    )
