"""End-to-end production pipeline, runnable via spark-submit:

    spark-submit --py-files edk_spark.zip jobs/pipeline.py \
        --sf-dir /root/testdata/sf0.01 --base-dir /tmp/edk_job \
        --job-id demo --reps 8

Stages (each checkpointed to parquet + lineage rows; a re-run after a
crash resumes from the last committed partition — north_rule
"resumable from checkpoint with per-partition lineage + metrics"):

  1. ingest    — synthesize/load the pages table (url, warc_ts, html,
                 text, lang) with JVM expressions only (no Python),
                 hash-partitioned by coarse cell prefix so each
                 ``part`` directory gets one file
  2. geocode   — one fused UDF pass: extract text from html, geocode,
                 stamp the S2 leaf; then the quadgrid cell at
                 CELL_RES in the JVM; partition key = parent cell at
                 res PART_RES (spatial locality for later joins and
                 pruning)
  3. pip_join  — cell-prefilter broadcast PIP join vs country
                 polygons; per-country counts to the metrics table
  4. knn       — kNN for the configured query points
  5. metrics   — per-stage row counts / checksums / wall-ms appended
                 to {base}/lineage (queryable DataFrame)

Under spark-submit, ``--master`` sets the parallelism; ``--cpus`` sizes
only a plain-Python run's ``local[cpus]`` and the shuffle partitions.

Every stage is one ``lineage.checkpoint_stage`` call, its input plus a
``build``: resume filter, build, then the stage's single write (which
also collects the lineage keys), then a re-read of the stage directory
for the next stage.  Each stage's plan executes once; a stage already
completed for this job id is only re-read, so a re-run over a fully
committed base builds nothing, runs no Python and writes nothing.
``--fail-after-stage`` raises after any named stage has committed.

On a real cluster the parquet writes become Iceberg `writeTo` calls —
the seam is plans/lineage.py (SURVEY.md §7.4-6).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

PART_RES = 2  # coarse parent cell → partition key (32 cols × 4 rows)
CELL_RES = 7


def geocode_pages(ingested):
    """The geocode stage's output for ingested pages: one pass of the
    fused extract+geocode UDF (one Arrow round trip per row, one
    ArrowEvalPython node) gives lat/lon/method and the S2 leaf; pages
    without a hit are dropped and the quadgrid cell is stamped in the
    JVM.  Both hierarchical indexes are stamped ONCE here (north rule:
    "H3 and S2 cell indexes"): the quadgrid cell for the SQL-mirrored
    gates, the real-S2 leaf for prefix-range layouts, from which
    downstream queries derive any S2 level by bit math, with no
    further Python."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from earth_data_kit_spark.functions.udfs import extract_geocode_udf

    return (
        ingested.select(
            "page_id", "url", "part",
            extract_geocode_udf(F.col("html"), F.col("url")).alias("g"),
        )
        .select(
            "page_id", "url", "part",
            F.col("g.lat").alias("lat"),
            F.col("g.lon").alias("lon"),
            F.col("g.method").alias("method"),
            cell_id_col(F.col("g.lon"), F.col("g.lat"), CELL_RES).alias("cell"),
            F.col("g.s2_leaf").alias("s2_leaf"),
        )
        .where(F.col("lat").isNotNull())
    )


STAGES = ("ingest", "geocode", "pip_counts", "knn", "quality")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--base-dir", default="/tmp/edk_job")
    ap.add_argument("--job-id", default="job1")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--fail-after-stage", default=None, choices=STAGES,
                    help="test hook: exit after this stage commits")
    args = ap.parse_args(argv)

    from earth_data_kit_spark.functions.columns import cell_id_col
    from earth_data_kit_spark.operators import spatial_join as sj
    from earth_data_kit_spark.operators.knn import knn_join
    from earth_data_kit_spark.plans import lineage
    from earth_data_kit_spark.session import get_spark
    from earth_data_kit_spark.sources.pages import synth_pages_df
    from earth_data_kit_spark.text.textcols import quality_score_col

    import __spark_entry__ as em

    spark = get_spark(app_name=f"edk-pipeline-{args.job_id}", cpus=args.cpus)
    base, job = args.base_dir, args.job_id
    t_start = time.time()

    def stage(name, df, build, lineage_cols=None):
        out = lineage.checkpoint_stage(df, base, job, name, "part", lineage_cols, build=build)
        if args.fail_after_stage == name:
            raise SystemExit(f"injected failure after {name}")
        return out

    # ---- stage 1: ingest ------------------------------------------------
    # hash-partitioned on part, so each part directory gets one file
    # (round-robin tasks would each write one into every part); that
    # one exchange is the stage's only shuffle
    pages = synth_pages_df(spark, args.sf_dir, reps=args.reps).withColumn(
        "part", cell_id_col(F.col("lon"), F.col("lat"), PART_RES)
    )
    ingested = stage("ingest", pages, lambda todo: todo.repartition("part"), ["page_id", "url"])

    # ---- stage 2: geocode ----------------------------------------------
    # the resume filter runs on the ingested pages, before the (non-
    # deterministic, so never pushed past) geocode UDF: a resumed job
    # sends only uncommitted partitions through Python
    geocoded = stage("geocode", ingested, geocode_pages, ["page_id", "cell"])

    # ---- stage 3: PIP join ----------------------------------------------
    # pip counts and kNN read all of geocoded (one part_key 0, one per
    # query id); the runner trims their output to uncommitted keys
    polys = [
        sj.Polygon(code=c, name=n, bbox=(a, b, x, y)) for c, n, a, b, x, y in em.COUNTRIES
    ]
    stage("pip_counts", geocoded, lambda _: (
        sj.pip_join(geocoded, polys, res=CELL_RES)
        .groupBy("code").agg(F.count("*").alias("n_pages"))
        .withColumn("part", F.lit(0))
    ))

    # ---- stage 4: kNN ----------------------------------------------------
    # the (|queries|×k row) result is read once, by the committed write,
    # so it is not cached (knn_join releases its own cell index)
    stage("knn", geocoded, lambda _: knn_join(
        geocoded, em.KNN_QUERIES, k=5, res=5, ring=4, id_col="page_id",
        auto_grow=True, max_ring=64,
    ).withColumn("part", F.col("query_id")))

    # ---- stage 5: training-data pass (quality + dedup stats) -------------
    stage("quality", ingested, lambda todo: (
        todo.select("part", "text")
        .withColumn("q", quality_score_col(F.col("text")))
        .withColumn("text_md5", F.md5("text"))
        .groupBy("part")
        .agg(
            F.count("*").alias("n_pages"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
            F.countDistinct("text_md5").alias("n_unique_texts"),
        )
    ))

    # ---- report ----------------------------------------------------------
    lin = spark.read.parquet(f"{base}/lineage").where(F.col("job_id") == job)
    print(f"[{job}] pipeline done in {time.time() - t_start:.1f}s; lineage:")
    (
        lin.groupBy("stage")
        .agg(
            F.count("*").alias("partitions"),
            F.sum("row_count").alias("rows"),
            F.max("committed_at").alias("last_commit"),
        )
        .orderBy("stage")
        .show(truncate=False)
    )
    spark.stop()


if __name__ == "__main__":
    main()
