"""End-to-end streaming feature pipeline.

The core design claim (SURVEY.md §3.1-3.2): ONE set of column expressions
serves batch and streaming. ``windowed_features`` below is exactly the
sliding-window aggregation family from operators/windows.py applied to a
``readStream`` DataFrame with a watermark; the reference needed two engines
(plain consumer + Flink job) sharing a business-logic core to get this.

Topology (mirrors stream_processor.py:163-256 / feature_job.py:435-507):

    source (kafka | files | rate)
      → parse/validate (+DLQ route)
      → withWatermark
      → per-entity sliding-window feature agg  [update mode]
      → foreachBatch: upsert latest view + append feature log

Scale: the stateful agg is keyed by (entity, window) — Kafka partitioning by
entity id (generators/txgen.py:329-331) maps to Spark's shuffle partitioning;
state is RocksDB-backed and watermark-evicted on a real cluster.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from streaming_feature_store_spark.functions.exprs import dsum
from streaming_feature_store_spark.streaming.sinks import append_log, upsert_latest
from streaming_feature_store_spark.streaming.watermarks import WatermarkPolicy


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 16,
) -> DataFrame:
    """File-based streaming source (test/replay path; Kafka source in
    sources/kafka.py has the same downstream contract).

    ``max_files_per_trigger`` shapes micro-batches: keep the default for
    live tailing (bounded batch latency), pass ``None`` for
    replay/backfill so an availableNow run drains the whole backlog as ONE
    batch — each micro-batch pays a latest-view bucket rewrite in the
    sink, so batch count dominates backfill cost (PERFORMANCE.md, "Full
    streaming replay": 2 M events end-to-end 13.7 k events/s at
    16 files/batch vs 107.6 k single-batch)."""
    reader = spark.readStream.format(fmt).schema(schema).option("path", path)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load()


def windowed_features(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "5 minutes",
    slide: str = "1 minute",
    policy: WatermarkPolicy | None = None,
) -> DataFrame:
    """Sliding-window per-entity features — streaming twin of
    operators/windows.sliding_stats (same aggregate expressions)."""
    policy = policy or WatermarkPolicy()
    w = policy.apply(events, ts_col)
    return (
        w.groupBy(F.col(entity_col), F.window(ts_col, window, slide).alias("w"))
        .agg(
            F.count("*").alias("event_count"),
            dsum(value_col).alias("value_sum"),
            F.max(value_col).alias("value_max"),
            F.min(value_col).alias("value_min"),
        )
        .withColumn("window_start_s", F.col("w.start").cast("long"))
        .drop("w")
    )


def start_feature_pipeline(
    spark: SparkSession,
    events: DataFrame,
    latest_path: str,
    log_path: str,
    entity_col: str = "user_id",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Wire source → features → foreachBatch(upsert latest, append log).

    ``trigger_available_now=True`` drains all available input then stops —
    the batch/replay/backfill mode (T11): the SAME pipeline function is the
    backfill job, pointed at historical files.
    """
    feats = (transform or windowed_features)(events, entity_col=entity_col)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cached = batch_df.persist()
        try:
            upsert_latest(spark, cached, latest_path, [entity_col])
            # batch_id-keyed write → a retried micro-batch replaces its own
            # partition rather than double-appending (effectively-once, T5)
            append_log(cached, log_path, batch_id=batch_id)
        finally:
            cached.unpersist()

    writer = (
        feats.writeStream.outputMode("update")
        .foreachBatch(sink)
        .queryName("feature_pipeline")
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
