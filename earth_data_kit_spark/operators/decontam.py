"""Benchmark decontamination: n-gram overlap between a training
corpus and evaluation sets.

The standard curation stage a 100 TB training pipeline runs before
anything ships: any training document sharing long word n-grams with
an eval example leaks the benchmark (GPT-3 App. C / PaLM-style
13-gram filtering — public methodology).

Spark-first shape (the 100 TB plan):

* the eval side is SMALL (thousands of examples) → its distinct
  (eval_id, shingle-hash) table is **broadcast**; the corpus side
  streams map-side through explode + BroadcastHashJoin — the 100 TB
  side never shuffles for the probe;
* hits are rare by construction, so the per-(doc, eval) aggregation
  shuffles only the matched slice (partial aggregation applies);
* hashes reuse the dedup layer's 63-bit word-shingle hashes
  (functions/udfs.py shingle_hashes_udf — one Arrow pass per side),
  so decontamination shares its vocabulary with MinHash/Jaccard
  dedup instead of inventing a second tokenizer.

No reference analog (the reference has no text pipeline); this is a
build-brief training-data operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from earth_data_kit_spark.functions.udfs import shingle_hashes_udf


def _shingle_table(df: DataFrame, id_col: str, text_col: str, k: int, out_id: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(shingle_hashes_udf(k)(F.col(text_col))).alias("shingle"),
    )


def contamination_report(
    docs: DataFrame,
    eval_df: DataFrame,
    shingle_k: int = 13,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """(doc_id, eval_id, n_hits, frac_eval) for every contaminated
    (training doc, eval example) pair.

    ``n_hits`` = number of distinct word ``shingle_k``-grams shared;
    ``frac_eval`` = n_hits / eval example's distinct n-gram count
    (1.0 = the whole eval example appears).  A pair is reported when
    ``n_hits >= min_overlap`` — the classic policy is any shared
    13-gram (min_overlap=1).

    Short eval examples (< shingle_k tokens) hash their full token
    string (analysis.shingles' short-text fallback), so exact short
    matches are still caught.
    """
    # one eval table carries each example's distinct n-gram count, so
    # the eval-side shingle UDF runs once
    ev = (
        _shingle_table(eval_df, eval_id_col, eval_text_col, shingle_k, "eval_id")
        .distinct()
        .withColumn("eval_ngrams", F.count("*").over(Window.partitionBy("eval_id")))
    )
    corpus = _shingle_table(docs, id_col, text_col, shingle_k, "doc_id")
    hits = (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "eval_id", "eval_ngrams")
        .agg(F.count("*").alias("n_hits"))
        .where(F.col("n_hits") >= min_overlap)
    )
    return hits.select(
        "doc_id",
        "eval_id",
        "n_hits",
        (F.col("n_hits") / F.col("eval_ngrams")).alias("frac_eval"),
    )


def flag_contaminated(
    docs: DataFrame,
    eval_df: DataFrame,
    shingle_k: int = 13,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """docs + boolean ``contaminated`` column (True = shares ≥
    min_overlap n-grams with ANY eval example) — the filter stage:
    ``flag_contaminated(...).where(~F.col("contaminated"))``.

    Implemented as a broadcast LEFT join against the distinct
    contaminated-doc ids; the corpus side streams map-side.  ``docs``
    is read twice (the probe and the flag join), so pass a
    materialized frame (checkpointed or committed) when it carries
    expensive lineage such as a Python UDF.
    """
    bad = (
        contamination_report(
            docs, eval_df, shingle_k=shingle_k, min_overlap=min_overlap, id_col=id_col, **kw
        )
        .select(F.col("doc_id").alias(id_col))
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.join(F.broadcast(bad), id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )
