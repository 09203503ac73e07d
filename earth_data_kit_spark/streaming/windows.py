"""Tumbling-window aggregation — batch and streaming forms.

The reference's temporal bucketing (A1, /root/reference/
earth_data_kit/stitching/engines/commons.py:37-54) is tumbling-window
grouping; the reference is batch-only (SURVEY.md §2.9), so the batch
form is the fixture-checked one, and the streaming form demonstrates
the same plan under ``readStream`` with a watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """groupBy(window(ts)) count/sum per event_type (epoch-aligned
    buckets — Spark window() semantics; for the reference's
    start-anchored buckets use operators.discover.bucket_temporally)."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


def _read_stream(spark, schema, parquet_dir, max_files_per_trigger=None) -> DataFrame:
    """Streaming parquet-directory source, optionally rate-limited."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(parquet_dir)


def _memory_sink(df: DataFrame, mode: str, query_name: str):
    """Start ``df`` into a memory-sink table named ``query_name``."""
    return df.writeStream.outputMode(mode).format("memory").queryName(query_name).start()


def sessionize_batch(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Batch sessionization: lag + gap-flag running sum → per-user
    (n_sessions, n_events).  Twin of the streaming version below; the
    rel_sessions harness query runs it against its DuckDB oracle."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.unix_timestamp(F.col("ts"))
    gapped = events.withColumn(
        "new_sess", F.when(ts_s - F.lag(ts_s).over(w) > gap_s, 1).otherwise(F.lit(0))
    )
    sess = gapped.withColumn("sess_id", F.sum("new_sess").over(w))
    return sess.groupBy("user_id").agg(
        (F.max("sess_id") + 1).cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def sessionize_native(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """JVM-native sessionization via ``F.session_window`` (dynamic-gap
    window merging in the aggregation layer — no Python, no explicit
    lag/running-sum composition): per-user (n_sessions, n_events).
    Twin of sessionize_batch; equality is pinned in tests.  This is
    also the streaming-capable form (session_window supports
    watermarked streams natively)."""
    per_session = (
        events.groupBy(F.session_window("ts", f"{gap_s} seconds"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


def sessionize_stream(
    spark: SparkSession,
    parquet_dir: str,
    schema: str,
    gap_s: int = 1800,
    query_name: str = "sessions",
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user session counting with explicit GroupState (last event
    time, open-session count, event count) — the build brief's
    "custom stateful operators" surface.  Emits the updated per-user
    totals each micro-batch (update mode)."""
    import pandas as pd

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        ts_all = []
        for pdf in pdf_iter:
            ts_all.extend(
                sorted(zip(pdf["ts"].astype("int64") // 10**9, pdf["event_id"]))
            )
        ts_all.sort()
        for t, _eid in ts_all:
            t = int(t)
            if last_ts is None or t - last_ts > gap_s:
                n_sessions += 1
            last_ts = t
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    out = _read_stream(spark, schema, parquet_dir).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_sessions bigint, n_events bigint",
        stateStructType="last_ts bigint, n_sessions bigint, n_events bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    return _memory_sink(out, "update", query_name)


def tumbling_agg_stream(
    spark: SparkSession,
    parquet_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "events_windowed",
    max_files_per_trigger: int | None = None,
):
    """The same aggregation as a streaming query over a parquet
    directory source; memory sink for synchronous smoke runs
    (q.processAllAvailable()).  Returns the StreamingQuery."""
    stream = _read_stream(spark, schema, parquet_dir, max_files_per_trigger)
    agg = tumbling_agg(stream.withWatermark("ts", watermark), window)
    return _memory_sink(agg, "complete", query_name)


def cell_window_agg(
    pages: DataFrame,
    res: int = 5,
    window: str = "1 day",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Geo-cell × tumbling-window rollup: pages per (time bucket,
    quadgrid cell).  The ingest-monitoring shape of a crawling
    pipeline — where is the crawl landing, per day — and the batch
    twin of ``cell_window_stream``.  Cell id is the pure-Column
    quadgrid expression, so the whole aggregation is JVM codegen with
    map-side partial aggregation (bounded key space: cells × buckets).
    """
    from earth_data_kit_spark.functions.columns import cell_id_col

    return (
        pages.withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), res))
        .groupBy(F.window(ts_col, window).alias("w"), "cell")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("bucket"), "cell", "n_pages")
    )


def cell_window_stream(
    spark: SparkSession,
    parquet_dir: str,
    schema: str,
    res: int = 5,
    window: str = "1 day",
    watermark: str = "2 days",
    ts_col: str = "warc_ts",
    query_name: str = "cells_windowed",
):
    """cell_window_agg under readStream: incremental per-micro-batch
    partial aggregation into windowed state.  UPDATE output mode —
    under ``complete`` Spark never evicts window state, so the
    watermark would be dead weight; under ``update`` state for
    windows older than the watermark is dropped, bounding the store
    to the late-data horizon (the long-running-ingest requirement).
    Memory-sink caveat: the sink table accumulates one row per
    UPDATE, so a reader takes the LAST row per (bucket, cell); the
    single-batch parity test sees exactly one emission per key."""
    stream = _read_stream(spark, schema, parquet_dir)
    agg = cell_window_agg(
        stream.withWatermark(ts_col, watermark), res=res, window=window, ts_col=ts_col
    )
    return _memory_sink(agg, "update", query_name)


def exact_dedup_stream(
    spark: SparkSession,
    parquet_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "dedup_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of operators.dedup.exact_dedup: a running
    ``(min id, dup count)`` per text hash as documents arrive, so the
    representative set is maintained INCREMENTALLY instead of
    re-scanning the corpus per batch — the ingest-time dedup a
    training pipeline runs in front of storage.  A JVM streaming
    aggregate (``groupBy(md5(text)).agg(min(id), count)``): its state
    is one row per distinct text in the state store, and no Python
    runs in the loop.  Update-mode memory sink — each micro-batch
    emits the new ``(text_md5, <id>, n_dups)`` row of every hash it
    touched; batch==stream equality is pinned in tests.

    ``exact_dedup_stream_jvm`` keeps only the first arriving row per
    hash (append mode, no counts).  State capacity for either path
    comes from the RocksDB state store configured in session.py
    (heap-backed state cannot hold one row per distinct hash at
    corpus scale)."""
    stream = _read_stream(spark, schema, parquet_dir, max_files_per_trigger)
    out = (
        stream.withColumn("text_md5", F.md5(F.col(text_col)))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).cast("bigint").alias(id_col),
            F.count("*").alias("n_dups"),
        )
    )
    return _memory_sink(out, "update", query_name)


def exact_dedup_stream_jvm(
    spark: SparkSession,
    parquet_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "dedup_stream_jvm",
    max_files_per_trigger: int | None = None,
):
    """THE DEFAULT streaming exact dedup (VERDICT r3 task 3):
    ``dropDuplicates`` on the text hash keeps the FIRST-ARRIVING row
    per distinct text — state is one row per hash in the (RocksDB,
    session.py) state store and NO Python runs in the loop.  Each
    hash is emitted once (append mode); reach for
    ``exact_dedup_stream`` when a running min-id/dup-count per key is
    required.  Append-mode memory sink."""
    stream = _read_stream(spark, schema, parquet_dir, max_files_per_trigger)
    out = (
        stream.withColumn("text_md5", F.md5(F.col(text_col)))
        .select("text_md5", id_col)
        .dropDuplicates(["text_md5"])
    )
    return _memory_sink(out, "append", query_name)


def tumbling_agg_stream_append(
    spark: SparkSession,
    parquet_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    query_name: str = "events_windowed_append",
    max_files_per_trigger: int | None = None,
):
    """Append-mode twin: a window row is emitted exactly once, after
    the watermark passes its end, and events arriving LATER than the
    watermark are dropped — the late-data semantics complete mode
    can't show (its state never finalizes).  This is the form a
    100 TB ingest would run: bounded state, one immutable row per
    finalized window."""
    stream = _read_stream(spark, schema, parquet_dir, max_files_per_trigger)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("bucket"), "n", "total_value")
    )
    return _memory_sink(agg, "append", query_name)
