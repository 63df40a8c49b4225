"""Streaming corpus intake — continuous document ingestion for a
training-data pipeline.

The batch corpus build (`pipelines/corpus.py`) assumes a frozen
snapshot; a live crawl delivers documents continuously. This module is
the streaming front half: documents arrive as JSON lines (a file
source locally; the same plan runs on a Kafka source), are gated
row-locally, exact-deduplicated in flight, and appended to a
date-partitioned staging area that the batch pipeline (near-dedup,
decontamination, packing — the stages that need corpus-wide state)
periodically sweeps. That split mirrors the reference's
Lambda shape (stream_processor.py + hourly batch_processor.py,
SURVEY §3): cheap per-row work happens at ingest latency, global work
happens on the accumulated snapshot.

Scale notes:

- The in-flight dedup keys on the CONTENT hash with
  ``dropDuplicatesWithinWatermark`` — state is bounded by documents
  arriving within the watermark horizon, not crawl history; the
  periodic batch sweep catches cross-horizon duplicates.
- PII scrub + quality gate are the same narrow codegen expressions as
  the batch path (`operators/text.py`) — one implementation, two
  execution modes.
- The sink partitions by ingest date: retention and the batch sweep
  both operate on whole partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators import text
from . import trigger_kwargs

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fetched_at", TimestampType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)


def doc_file_source(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines document stream (explicit schema — no inference)."""
    return spark.readStream.schema(DOC_SCHEMA).json(path)


def clean_doc_stream(
    raw: DataFrame,
    quality_min: float = 0.3,
    watermark: str = "10 minutes",
) -> DataFrame:
    """PII scrub → quality gate → in-flight exact dedup on the content
    hash (state bounded by the watermark horizon)."""
    scrubbed = (
        text.redact_pii(raw, "text")
        .withColumn("text", F.col("redacted"))
        .drop("redacted", "n_phone", "n_email")
    )
    gated = text.quality_score(scrubbed).filter(F.col("quality") >= quality_min)
    return (
        gated.withColumn("content_hash", F.md5("text"))
        .withWatermark("fetched_at", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def start_intake(
    cleaned: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger: str | None = None,
):
    """Append the cleaned stream to date-partitioned parquet staging.
    ``trigger`` is a processingTime string (e.g. ``"1 minute"``) for
    continuous ingest; ``None`` → availableNow (drain-and-stop, used by
    tests and backfills)."""
    return (
        cleaned.withColumn("ingest_date", F.to_date("fetched_at"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy("ingest_date")
        .outputMode("append")
        .trigger(**trigger_kwargs(trigger))
        .start()
    )
