"""Deduplication suite for web-scale training data (first-class per
the build brief): exact, MinHash+LSH, SimHash, exact n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (100 TB posture):
* exact: one hash-shuffle on a 16-byte digest — the canonical
  map-side-combinable groupBy; no skew (hashes are uniform).
* bucketed near-dup pairs (MinHash+LSH, SimHash, SRP embeddings):
  each path computes its per-doc payload in one Arrow-batched UDF pass
  and explodes a constant fan-out of bucket keys (16 LSH bands, 4×16-
  bit simhash bands, L SRP tables); the candidate-pair body is shared
  (``_bucket_pairs``): a bucket-size cap drops degenerate buckets
  (all-empty docs, zero vectors — the real-world skew failure mode),
  then a per-bucket self-join verifies candidates with the path's
  score map-side and dedups the pairs.
* verification compares payloads (already shuffled with the
  candidates) — full texts are only re-read for the final exact
  n-gram check when requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from earth_data_kit_spark.partitioning import ensure_parallelism
from earth_data_kit_spark.functions.udfs import (
    minhash_bands_udf,
    minhash_sig_udf,
    shingle_hashes_udf,
    simhash64_udf,
)


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest id per identical text (md5 equality).  Returns
    (<id_col>, n_dups) per kept representative."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "n_dups")
    )


def _bucket_pairs(
    keyed: DataFrame, score: Column, name: str, keep: Column, max_bucket: int
) -> DataFrame:
    """The candidate-pair body every bucketed near-dup path shares:
    ``keyed`` rows ``(id, <payload>, key)`` (one row per bucket a doc
    falls in) → pairs ``(id_a, id_b, <name>)`` with id_a < id_b that
    share a key and satisfy ``keep``.  ``score`` reads the two sides as
    ``a.<payload>`` / ``b.<payload>``.

    * Skew guard: keys holding more than ``max_bucket`` rows are
      dropped by a broadcast join against the surviving keys before
      the self-join (a bucket of B rows yields B² candidates — an
      empty-doc or zero-vector bucket is the real-world failure mode).
    * The score and ``keep`` run MAP-SIDE in the self-join stage,
      BEFORE the (id_a, id_b) dedup exchange: the score is
      functionally dependent on the pair (the payload is a function of
      id), so the exchange carries three narrow columns of surviving
      pairs instead of both payloads (64-slot signatures, embedding
      vectors) for every candidate, and the pair dedup plans as a
      HashAggregate, not SortAggregate+Sort (guide §2.3, r7).
    * Cache lifetime: call-scoped.  ``keyed`` (the UDF pass) is
      persisted because it feeds the skew guard AND both join sides;
      the pairs are materialized by an eager ``localCheckpoint`` and
      the cache is released before returning, so repeated calls in
      one JVM neither accumulate caches nor re-read a stale one."""
    keyed = keyed.persist()
    try:
        sizes = keyed.groupBy("key").count().where(F.col("count") <= max_bucket)
        kept = keyed.join(F.broadcast(sizes.select("key")), "key")
        a = kept.alias("a")
        b = kept.alias("b")
        return (
            a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), score.alias(name))
            .where(keep)
            .dropDuplicates(["id_a", "id_b"])
            .localCheckpoint()
        )
    finally:
        keyed.unpersist()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs with estimated Jaccard ≥
    threshold.  Output: (id_a, id_b, est_jaccard), id_a < id_b.

    est_jaccard = fraction of equal minhash slots (the unbiased
    MinHash estimator).  Keys are the ``bands`` LSH band hashes of the
    signature; ``max_bucket`` drops degenerate band buckets.  The
    signature cache is call-scoped (``_bucket_pairs``)."""
    sig_udf = minhash_sig_udf(num_perm, shingle_k)
    band_udf = minhash_bands_udf(bands)
    sigs = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig")
    ).withColumn("key", F.explode(band_udf(F.col("sig"))))
    est = (
        F.size(F.filter(F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y), lambda v: v))
        / F.lit(float(num_perm))
    )
    return _bucket_pairs(sigs, est, "est_jaccard", F.col("est_jaccard") >= threshold, max_bucket)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit simhash banded into 4×16-bit
    keys (any pair within hamming ≤ 3 of each other shares at least
    one exact 16-bit band — pigeonhole), then exact hamming filter.
    Output: (id_a, id_b, hamming).

    ``max_bucket`` drops degenerate band buckets before the self-join
    (same guard as minhash_lsh_pairs): a corpus with B empty or
    boilerplate docs puts all B in one 16-bit band bucket → B²
    candidate pairs — the skew failure mode at scale.  Recall note:
    the hamming ≤ 3 guarantee holds only among docs whose shared band
    bucket survives the cap; capped buckets are near-identical spam
    by construction, the pairs a dedup pass drops first anyway.
    The simhash cache is call-scoped (``_bucket_pairs``)."""
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), simhash64_udf(F.col(text_col)).alias("sh")
    )
    banded = sh.select(
        "id", "sh", F.explode(F.array(*[
            F.concat_ws(":", F.lit(i), F.shiftright("sh", 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("string"))
            for i in range(4)
        ])).alias("key"),
    )
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return _bucket_pairs(banded, hamming, "hamming", F.col("hamming") <= max_hamming, max_bucket)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.4,
    max_df: int | None = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard via explode + SQL aggregation (no pairwise
    UDF): |A∩B| from a self-join on shingle hash, |A∪B| = |A|+|B|−∩.
    Output: (id_a, id_b, jaccard).  Quadratic only within documents
    sharing shingles — the classic inverted-index trick.

    ``max_df``: drop shingles appearing in more than max_df documents
    before the self-join (stop-shingles like "the" create quadratic
    blowup at scale; dropping them only *underestimates* intersection
    for pairs that shared nothing distinctive, so high-jaccard pairs
    survive — the standard document-frequency cap).  Sizes are
    computed on the SAME filtered set so the jaccard stays exact over
    the retained shingle universe.  DEFAULT 1000 — the guard is
    always-on like the other paths' bucket caps (a single stop-shingle
    in D docs otherwise costs D²/2 join rows); pass ``None`` only when
    the shingle universe is known clean and the result must be exact
    over ALL shingles.
    """
    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_hashes_udf(shingle_k)(F.col(text_col))).alias("shingle"),
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(keep), "shingle")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over an edge table → ``(id, cluster)`` for
    every node that appears in ``pairs``, cluster = the component's
    minimum node id.  The one CC routine of the engine: near-dup
    clusters (one canonical doc per cluster), raster region merges
    (``regions``/``polygonize``) and contour polyline stitching
    (``contour.contour_lines``) all run it.

    Alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) plus one parent-
    COMPOSE step per round on a strictly id-decreasing pointer forest
    (child > parent, so composition can never cycle):

    * large-star: every neighbor v > u links to min(Γ(u) ∪ {u});
    * small-star: every neighbor v ≤ u (and u) links to that min;
    * compose: parent ← parent[parent] where defined — doubling on the
      persistent forest.

    Each round is a constant number of shuffles over the shrinking
    edge set and the compose halves the remaining pointer depth, so a
    path or cycle of n nodes converges in O(log n) rounds (a 10k-node
    random-id cycle within 2·log2 n, tests/test_contour.py) — a
    min-label propagation needs O(diameter) rounds, which a polyline or
    a mosaic-long raster region turns into thousands.  Each round's
    edges are ``localCheckpoint``-ed (eager, lineage-truncating), so
    the plan size stays constant in rounds.

    If the forest is not a star forest after ``max_iter`` rounds the
    labels are WRONG for some component; ``on_nonconverged`` picks the
    failure mode: 'raise' (default — never silently return partial
    labels) or 'warn' (UserWarning, return the current parent forest
    as the partial labels).

    Cache lifetime: the returned labels derive from localCheckpoints
    (freed when the DataFrame is garbage-collected)."""
    return _star_contraction(pairs, id_a, id_b, max_iter, on_nonconverged)


def _star_contraction(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    on_nonconverged: str = "raise",
    stats: dict | None = None,
) -> DataFrame:
    """``dup_clusters``' body; ``stats`` (optional dict) receives
    {"outer": rounds} for the convergence property test."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}")
    a, b, u, v = F.col(id_a), F.col(id_b), F.col("u"), F.col("v")
    # parent pairs (u=child ≥ v=parent candidate), one row per edge; a
    # self-loop (u = v) only keeps its node in ``nodes`` — the first
    # large-star drops it
    e = (
        pairs.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select(u.alias("id")).union(e.select(v.alias("id"))).distinct()
    for rounds in range(1, max_iter + 1):
        # LARGE-STAR: symmetrize; per u link every v > u to
        # m = min(Γ(u) ∪ {u})
        s = e.union(e.select(v.alias("u"), u.alias("v")))
        mins = s.groupBy("u").agg(F.least(F.min("v"), u).alias("m"))
        e = (
            s.join(mins, "u")
            .where(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
            .where(u != v)
            .distinct()
        )
        # SMALL-STAR: orient child=larger; per u link every smaller
        # neighbor AND u itself to the min neighbor
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(mins, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .where(u != v)
            .distinct()
        )
        # COMPOSE: parent ← parent[parent] (strictly decreasing ids
        # ⇒ acyclic ⇒ safe doubling).  Edges are LOWERED, not
        # collapsed per child — (u,v2)→(u,parent(v2)) keeps u
        # attached to v2's tree while v2 stays attached via its own
        # child row; a groupBy-min collapse here could disconnect a
        # node whose only link to part of the component ran through
        # the dropped edge.
        p = e.select(u.alias("pu"), v.alias("pv"))
        e = (
            e.join(p, e.v == p.pu, "left")
            .select("u", F.least(v, F.coalesce("pv", v)).alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # converged ⇔ star forest: no parent is itself a child AND
        # every child has exactly one parent (two root-parents on one
        # child means two min-candidates still unmerged) — one
        # aggregation per node: its parent count and whether it is a
        # parent
        nonstar = (
            e.select(u.alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p"))
            .union(e.select(v.alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p")))
            .groupBy("n")
            .agg(F.sum("c").alias("c"), F.max("p").alias("p"))
            .where((F.col("c") > 1) | ((F.col("c") > 0) & (F.col("p") > 0)))
            .limit(1)
            .count()
        )
        if not nonstar:
            break
    else:
        msg = (
            f"dup_clusters did not converge in {max_iter} rounds — some "
            f"component is not yet a star; labels would be partial. "
            f"Raise max_iter."
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, UserWarning, stacklevel=3)
        e = e.groupBy("u").agg(F.min("v").alias("v"))
    if stats is not None:
        stats["outer"] = rounds
    return nodes.join(e.select(u.alias("id"), v.alias("cluster")), "id", "left").select(
        "id", F.coalesce("cluster", "id").alias("cluster")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 1,
    dim: int = 64,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-dup: sign-random-projection LSH buckets →
    exact cosine within bucket.  Output (id_a, id_b, cosine).

    ``n_tables`` independent SRP tables (one fused matmul,
    similarity.srp_multi_bucket_udf; one table is the L=1 case): pair
    recall at angle θ is 1-(1-p^P)^L with p = 1-θ/π — at cosine ≥ 0.9,
    P=8/L=12 gives recall ≈ 1 while probing ~L buckets per vector, not
    the corpus.  ``max_bucket`` is the same degenerate-bucket B² guard
    as the text dedup paths (a zero vector or constant embedding
    floods one bucket per table).  The bucket cache is call-scoped
    (``_bucket_pairs``)."""
    from earth_data_kit_spark.operators.similarity import cosine_col, srp_multi_bucket_udf

    buckets = srp_multi_bucket_udf(n_planes, dim, n_tables)(F.col(vec_col))
    bucketed = ensure_parallelism(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.explode(buckets).alias("key")
    )
    cosine = cosine_col(F.col("a.v"), F.col("b.v"))
    return _bucket_pairs(bucketed, cosine, "cosine", F.col("cosine") >= sim_threshold, max_bucket)


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
    min_chars: int = 1,
    max_boilerplate: int = 100_000,
) -> DataFrame:
    """Cross-document PARAGRAPH dedup — the CCNet-style boilerplate
    scrub (Wenzek et al. 2020, arXiv:1911.00359 par. 3.1 deduplicates
    at paragraph granularity; distinct from the per-doc repetition
    signals and from whole-document dedup): a paragraph appearing in
    MORE than ``max_doc_freq`` documents is boilerplate (cookie
    banners, navigation, footers) and is removed from every document;
    the surviving paragraphs are rejoined in their original order.

    Scale shape: ONE shuffle total — the paragraph-hash document-
    frequency aggregation moves only (md5, id) pairs (never the
    text; uniform keys, map-side combinable).  The over-threshold
    set is SMALL by construction (only boilerplate crosses the
    threshold; the long tail of unique paragraphs never leaves the
    aggregation), so it collects to the driver and the rebuild is a
    MAP-ONLY Column pass over the original rows: split -> trim-filter
    -> drop hashes in the set -> array_join.  The first cut rebuilt
    via posexplode + groupBy(id) + sort_array, which re-shuffled
    every paragraph STRING — measured 13.6k docs/s at 32 cores; the
    map-only rebuild avoids that movement entirely.
    ``max_boilerplate`` guards the driver collect: if more distinct
    paragraphs cross the threshold than fits a literal isin set, the
    threshold is wrong for the corpus (raise, don't silently
    degrade).

    Returns (id, text, n_paragraphs, n_removed) — text rebuilt with
    blank-line separators, whitespace-only paragraphs dropped (they
    carry no content and would dominate any frequency count).
    """
    split_paras = F.filter(
        F.transform(F.split(F.col(text_col), r"\n\n"), F.trim),
        lambda p: F.length(p) >= min_chars,
    )
    paras = (
        df.select(F.col(id_col), F.explode(split_paras).alias("para"))
        .withColumn("ph", F.md5(F.col("para")))
        .select(id_col, "ph")
    )
    # document frequency per distinct paragraph; only boilerplate
    # (doc_freq > max_doc_freq) survives the filter — a tiny list
    common = [
        r["ph"]
        for r in (
            paras.groupBy("ph")
            .agg(F.countDistinct(id_col).alias("doc_freq"))
            .where(F.col("doc_freq") > max_doc_freq)
            .select("ph")
            .collect()
        )
    ]
    if len(common) > max_boilerplate:
        raise ValueError(
            f"{len(common)} paragraphs exceed doc_freq {max_doc_freq} — "
            f"threshold too low for this corpus (cap {max_boilerplate})"
        )

    # map-only rebuild against the literal hash set (let-bound via a
    # 1-element transform so the trimmed array is computed once)
    def _rebuild(tl):
        kept = F.filter(tl, lambda p: ~F.md5(p).isin(common)) if common else tl
        return F.struct(
            F.array_join(kept, "\n\n").alias("text"),
            F.size(kept).cast("bigint").alias("n_kept"),
            F.size(tl).cast("bigint").alias("n_total"),
        )

    r = F.transform(F.array(split_paras), _rebuild)[0]
    return df.select(
        F.col(id_col),
        r["text"].alias(text_col),
        r["n_kept"].alias("n_paragraphs"),
        (r["n_total"] - r["n_kept"]).alias("n_removed"),
    )
