"""Structured Streaming variant of the extraction pipeline.

The reference has no streaming (SURVEY §1.3/§2.11); the engine still ships
the streaming shape because a Common-Crawl-style ingest IS a stream of
WARC batches in production:

* ``extract_stream`` — ``readStream`` (file source over the pages parquet
  layout) → the SAME narrow extraction transforms (mapInArrow +
  expressions compose with streaming unchanged) → any sink.  Exactly-once
  via checkpointLocation + file-sink transaction log.
* ``windowed_block_stats`` — an event-time windowed aggregate with a
  watermark over ``warc_ts`` (late-data bound), demonstrating the
  stateful-agg shape (counts + byte volume per 10-minute crawl window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.extract import extract_main_text


def extract_stream(
    spark: SparkSession,
    pages_dir: str,
    schema=None,
    max_files_per_trigger: int = 8,
    where=None,
    **extract_kwargs,
) -> DataFrame:
    """Streaming pages source → extraction transforms.  Returns the
    streaming DataFrame; caller attaches ``writeStream`` (see
    tests/test_streaming.py for the parquet-sink wiring).

    ``where`` is an optional Column predicate applied BEFORE the UDF
    stage (native filters reach the streaming scan, same pushdown story
    as the batch job's --lang); ``extract_kwargs`` pass through to
    ``extract_main_text`` (e.g. ``salt_partitions``)."""
    if schema is None:
        schema = spark.read.parquet(pages_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    if where is not None:
        stream = stream.where(where)
    return extract_main_text(stream, **extract_kwargs)


def windowed_block_stats(extracted: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Event-time windowed aggregate with a watermark on ``warc_ts``:
    docs + text bytes + mean blocks per 10-minute crawl window."""
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("extracted_text")).alias("text_bytes"),
            F.avg("n_blocks").alias("avg_blocks"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs",
            "text_bytes",
            "avg_blocks",
        )
    )


def dedup_stream(
    pages_stream: DataFrame,
    text_col: str = "text",
    watermark_col: str = "warc_ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup over a crawl ingest: md5 digest of the text
    + ``dropDuplicatesWithinWatermark`` — the first arrival per digest
    inside the watermark horizon survives, and state is BOUNDED by the
    watermark (plain dropDuplicates on an unbounded stream grows state
    forever; the horizon is the dedup contract a rolling crawl actually
    wants: re-fetches of the same page arrive close together).

    The streaming twin of ``dedup.dedup_exact`` — same digest key, so a
    batch backfill and the live stream agree on what is a duplicate."""
    return (
        pages_stream.withColumn(
            "digest", F.md5(F.encode(F.col(text_col), "utf-8"))
        )
        .withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(["digest"])
    )
