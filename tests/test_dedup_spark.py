"""Dedup suite vs single-node oracles on the documents table (with
planted duplicates)."""

import re

import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators import dedup
from earth_data_kit_spark.text import analysis

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    # plant exact dups (ids +100000) and near dups (ids +200000)
    exact = docs.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = docs.limit(10).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    df = docs.unionByName(exact).unionByName(near).cache()
    yield df
    df.unpersist()


def test_exact_dedup(spark, docs_with_dups):
    kept = dedup.exact_dedup(docs_with_dups).collect()
    total = docs_with_dups.count()
    pdf = docs_with_dups.select("doc_id", "text").toPandas()
    import hashlib

    by_text = {}
    for _, r in pdf.iterrows():
        by_text.setdefault(hashlib.md5(r["text"].encode()).hexdigest(), []).append(r["doc_id"])
    exp = {(min(v), len(v)) for v in by_text.values()}
    assert {(r.doc_id, r.n_dups) for r in kept} == exp
    assert sum(r.n_dups for r in kept) == total
    # the 10 planted exact dups dedup away
    assert sum(r.n_dups - 1 for r in kept) >= 10


def test_minhash_lsh_finds_planted_near_dups(spark, docs_with_dups):
    pairs = dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # every planted near-dup pair (id, id+200000) with long-enough text
    pdf = docs_with_dups.where(F.col("doc_id") < 10).select("doc_id", "text").toPandas()
    expected_hits = 0
    for _, r in pdf.iterrows():
        j = analysis.jaccard(
            set(analysis.shingles(r["text"])), set(analysis.shingles(r["text"] + " tail"))
        )
        if j >= 0.7:  # well above threshold → LSH should catch it
            expected_hits += 1
            assert (r["doc_id"], r["doc_id"] + 200000) in got
    assert expected_hits > 0
    # exact dups must be found with est_jaccard == 1
    ex = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    for i in range(10):
        assert ex.get((i, i + 100000)) == 1.0


def test_simhash_pairs(spark, docs_with_dups):
    pairs = dedup.simhash_pairs(docs_with_dups, max_hamming=3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    for i in range(10):
        assert (i, i + 100000) in got  # exact dups: hamming 0
    hams = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert all(h <= 3 for h in hams.values())


def test_simhash_degenerate_bucket_capped(spark, docs_with_dups):
    """The B² skew guard: a pile of identical boilerplate docs all
    simhash into ONE band bucket; with max_bucket they are dropped
    before the self-join instead of producing B² candidate pairs,
    while genuinely distinct near-dups are still found."""
    boiler = spark.range(1000, 1300).select(
        F.col("id").alias("doc_id"),
        F.lit("lorem ipsum boilerplate footer").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("synthetic").alias("source"),
        F.lit(30).alias("n_chars"),
    )
    both = docs_with_dups.unionByName(boiler)
    pairs = dedup.simhash_pairs(both, max_hamming=3, max_bucket=100).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # no pair from the capped boilerplate cluster (300² avoided)
    assert not any(1000 <= a < 1300 and 1000 <= b < 1300 for a, b in got)
    # planted exact dups (distinct small buckets) still found
    for i in range(10):
        assert (i, i + 100000) in got


def test_ngram_jaccard_exact(spark, docs_with_dups):
    small = docs_with_dups.where((F.col("doc_id") < 8) | (F.col("doc_id") >= 200000))
    pairs = dedup.ngram_jaccard_pairs(small, shingle_k=3, threshold=0.3).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    pdf = small.select("doc_id", "text").toPandas()
    texts = dict(zip(pdf["doc_id"], pdf["text"]))
    # oracle: exact jaccard over shingle-hash sets
    import itertools

    for a, b in itertools.combinations(sorted(texts), 2):
        sa = {analysis._h64(s.encode()) & 0x7FFFFFFFFFFFFFFF for s in analysis.shingles(texts[a], 3)}
        sb = {analysis._h64(s.encode()) & 0x7FFFFFFFFFFFFFFF for s in analysis.shingles(texts[b], 3)}
        j = analysis.jaccard(sa, sb)
        if j >= 0.3:
            assert abs(got[(a, b)] - j) < 1e-9
        else:
            assert (a, b) not in got


def test_dup_clusters_connected_components(spark):
    """Min-label propagation: known graph → known components,
    including a chain (diameter > 1, forcing multiple rounds)."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4, pair {10,11}, triangle {20,21,22}, singleton edge {30,31}
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (30, 31)],
        "id_a bigint, id_b bigint",
    )
    got = {r.id: r.cluster for r in dedup.dup_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_dup_clusters_long_path_default_rounds(spark):
    """A 100-node path (diameter 99, twice the default max_iter) is one
    cluster under the default arguments: the rounds grow with
    log(diameter), not with the diameter."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a bigint, id_b bigint"
    )
    got = {r.id: r.cluster for r in dedup.dup_clusters(path).collect()}
    assert got == {i: 0 for i in range(100)}


def test_embedding_neardup(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(150)
    # plant a near-identical vector
    twin = emb.limit(1).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(1.0001)).alias("embedding"),
        "label",
    )
    both = emb.unionByName(twin)
    pairs = dedup.embedding_neardup_pairs(both, sim_threshold=0.999).collect()
    assert any(r.id_b == r.id_a + 500000 and r.cosine > 0.9999 for r in pairs)


def test_ngram_jaccard_max_df_keeps_high_pairs(spark, docs_with_dups):
    small = docs_with_dups.where((F.col("doc_id") < 8) | (F.col("doc_id") >= 200000))
    full = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(small, shingle_k=3, threshold=0.6).collect()}
    capped = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(small, shingle_k=3, threshold=0.6, max_df=6).collect()}
    # planted near-dup pairs (jaccard near 1) survive the df cap
    planted = {p for p in full if p[1] == p[0] + 200000}
    assert planted and planted.issubset(capped)


def test_ngram_jaccard_default_max_df_caps_stop_shingles(spark):
    """The df cap is ON by default (max_df=1000): a planted stop-
    shingle shared by every doc must not reach the self-join, while
    distinctive-shingle pairs still surface.  With the cap disabled
    (max_df=None) the stop-shingle makes EVERY doc pair a candidate —
    the quadratic blowup the default prevents."""
    # 30 docs all containing the same boilerplate token; two true dups
    rows = [(i, f"unique text number {i} zz{i}q " + "the " * 5) for i in range(30)]
    rows.append((1000, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # cap at 10 docs: 'the'-shingles (df=31) drop, the dup pair stays
    capped = dedup.ngram_jaccard_pairs(df, shingle_k=3, threshold=0.9, max_df=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (0, 1000) in got
    # default is finite (the always-on guard), not None
    import inspect

    assert inspect.signature(dedup.ngram_jaccard_pairs).parameters["max_df"].default == 1000


def test_dup_clusters_nonconverged_raises_not_partial(spark):
    """A chain whose diameter exceeds max_iter must raise (default) or
    warn — never silently return partial labels (ADVICE r2)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(chain, max_iter=1)
    with pytest.warns(UserWarning, match="did not converge"):
        got = {r.id: r.cluster for r in dedup.dup_clusters(chain, max_iter=1, on_nonconverged="warn").collect()}
    assert len(got) == 13  # partial labels returned under 'warn'
    # and with enough rounds the same chain converges to min-id 0
    ok = {r.id: r.cluster for r in dedup.dup_clusters(chain, max_iter=20).collect()}
    assert set(ok.values()) == {0}


def test_paragraph_dedup_removes_boilerplate_python_oracle(spark):
    """CCNet-style cross-doc paragraph scrub vs a pure-python oracle:
    paragraphs in > max_doc_freq docs vanish everywhere, order is
    preserved, per-doc counts are exact."""
    from collections import Counter

    from earth_data_kit_spark.operators.dedup import paragraph_dedup

    boiler = "Accept our cookies to continue"
    nav = "Home | About | Contact"
    docs = [
        (1, f"{boiler}\n\nUnique content one\n\n{nav}"),
        (2, f"{boiler}\n\nAnother unique paragraph\n\n{nav}\n\nTail two"),
        (3, f"{boiler}\n\nThird body\n\n{nav}"),
        (4, "Entirely unique document\n\nWith two paragraphs"),
        (5, f"{boiler}"),                # becomes empty
        (6, "Shared twice\n\nBody six"),
        (7, "Shared twice\n\nBody seven"),  # df=2 == max_doc_freq → kept
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r.doc_id: r for r in paragraph_dedup(df, max_doc_freq=2).collect()}

    # python oracle
    split = {i: [p.strip() for p in t.split("\n\n") if p.strip()] for i, t in docs}
    freq = Counter()
    for ps in split.values():
        for p in set(ps):
            freq[p] += 1
    exp = {
        i: [p for p in ps if freq[p] <= 2] for i, ps in split.items()
    }
    for i, ps in exp.items():
        assert out[i].text == "\n\n".join(ps), i
        assert out[i].n_paragraphs == len(ps)
        assert out[i].n_removed == len(split[i]) - len(ps)
    assert out[5].text == "" and out[5].n_removed == 1
    assert "Shared twice" in out[6].text and "Shared twice" in out[7].text
    assert len(out) == len(docs)  # every input doc has an output row


def test_paragraph_dedup_plan_is_maponly_jvm(spark):
    """The rebuild must be a shuffle-free map pass (the frequency agg
    already ran at plan-build time to collect the boilerplate set):
    no exchange, no join, no Python eval nodes in the query plan."""
    from earth_data_kit_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = paragraph_dedup(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "Exchange", "Join"):
        assert node not in plan, node
    # sanity: runs, row-preserving
    assert out.count() == docs.count()


def test_embedding_neardup_honours_dim(spark):
    """One table (the default) buckets through the same SRP bucketer as
    L > 1 tables, so a non-64 ``dim`` is honoured: 32-dim vectors find
    their planted twin instead of failing a 32×64 matmul."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(150).select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    twin = emb.limit(1).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(1.0001)).alias("embedding"),
    )
    pairs = dedup.embedding_neardup_pairs(
        emb.unionByName(twin), sim_threshold=0.999, dim=32
    ).collect()
    assert any(r.id_b == r.id_a + 500000 and r.cosine > 0.9999 for r in pairs)


# the three bucketed pair paths: call on (docs, embeddings), payload column
PAIR_CALLS = {
    "minhash_lsh_pairs": (lambda docs, emb: dedup.minhash_lsh_pairs(docs, threshold=0.5), "sig"),
    "simhash_pairs": (lambda docs, emb: dedup.simhash_pairs(docs, max_hamming=3), "sh"),
    "embedding_neardup_pairs": (
        lambda docs, emb: dedup.embedding_neardup_pairs(
            emb, sim_threshold=0.9, n_planes=8, n_tables=12
        ),
        "v",
    ),
}


@pytest.fixture(scope="module")
def pair_inputs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet").limit(300),
        spark.read.parquet(f"{SF}/embeddings.parquet").limit(300),
    )


def _plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(operator, detail block) per node of a formatted physical plan."""
    return [
        (m.group(1), block)
        for block in plan.split("\n\n")
        if (m := re.match(r"\(\d+\) (\w+)", block.strip()))
    ]


@pytest.mark.parametrize("name", PAIR_CALLS)
def test_pair_plan_shape(spark, pair_inputs, name):
    """The pair body's plan, read from the SQL status store (the pairs
    are computed by the call's eager localCheckpoint): the pair dedup
    is a HashAggregate, the skew-guard join (the keyed join with no
    condition) is broadcast, and the (id_a, id_b) exchange carries the
    narrow scored pair — never the payload array."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution():
        execs = store.executionsList()
        return execs.apply(execs.size() - 1) if execs.size() else None

    before = last_execution()
    call, payload = PAIR_CALLS[name]
    call(*pair_inputs)
    last = last_execution()
    # the call itself ran the pair job (eager), so the newest execution is its own
    assert last is not None and (before is None or last.executionId() > before.executionId())
    plan = last.physicalPlanDescription()
    assert "HashAggregate" in plan and "SortAggregate" not in plan
    nodes = _plan_nodes(plan)
    guards = [op for op, block in nodes if "Left keys" in block and "Join condition: None" in block]
    assert guards and all(op == "BroadcastHashJoin" for op in guards), guards
    pair_exchanges = [
        block for op, block in nodes
        if op == "Exchange" and re.search(r"hashpartitioning\(id_a#\w+, id_b#", block)
    ]
    assert pair_exchanges
    for block in pair_exchanges:
        inputs = re.search(r"Input \[\d+\]: \[(.*)\]", block).group(1)
        assert payload not in {c.split("#")[0] for c in inputs.split(", ")}, inputs


@pytest.mark.parametrize("name", PAIR_CALLS)
def test_pair_functions_leave_no_cache(spark, pair_inputs, name):
    """Cache hygiene: the keyed-row cache is scoped to the call — after
    the pairs are collected, the session's cache manager is empty."""
    spark.catalog.clearCache()
    PAIR_CALLS[name][0](*pair_inputs).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
