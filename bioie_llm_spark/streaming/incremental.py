"""Structured Streaming twins of two batch operators, drained with
`Trigger.AvailableNow` over a parquet directory source.

- `windowed_event_counts`: a watermarked sliding-window count over the
  events table, the same plan on a streaming or a batch frame
  (`run_windowed_events_stream` drains it into parquet);
- `stream_dedup_docs`: exact dedup whose seen-content state lives in the
  stream checkpoint, so a later file re-delivering known content emits
  nothing.

`st_stream_batch_equiv` checks both against their batch runs. The KG's own
per-snapshot resume is batch incremental (`pipeline.incremental_triples`),
as the reference's is (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked sliding-window count by event_type. Works on a streaming
    OR batch events frame (same plan either way — the batch run is the
    oracle for the streaming run in tests)."""
    # driver parquet stores ts as TIMESTAMP_NTZ; watermarks need TIMESTAMP
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_windowed_events_stream(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
):
    """Streaming twin of windowed_event_counts over a parquet directory
    source; append mode requires the watermark to close windows."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return q


def stream_dedup_docs(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming exact dedup: as document files land, only the FIRST
    occurrence of each normalized-content key is emitted downstream —
    `dropDuplicates` on the md5 content key with its state held in the
    stream checkpoint, so dedup is exactly-once ACROSS micro-batches and
    restarts (a later batch re-delivering known content emits nothing).
    The batch twin is operators.dedup.exact_dedup keepers; the streaming
    form is what a continuously-ingesting corpus pipeline runs. Drained
    with AvailableNow; returns the finished query."""
    from ..operators.dedup import normalized_text

    schema = spark.read.parquet(docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    keyed = stream.withColumn(
        "content_key", F.md5(normalized_text(F.col(text_col)))
    )
    deduped = keyed.dropDuplicates(["content_key"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return q
