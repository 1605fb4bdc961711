"""Structured-Streaming rendering of the curation pipeline.

The reference is pure batch (SURVEY.md §2.9: no watermarks/windows/state);
its "incremental" story is per-rank completion markers. Streaming is a
first-class engine capability here because a production crawl is a stream:

- every quality stage is a stateless per-row projection (native exprs or
  Arrow-batched UDFs), so the SAME composed plan from plans/pipeline.py
  runs unchanged under ``readStream`` — one code path for batch and
  streaming (the core promise of Structured Streaming);
- metrics become a watermarked windowed aggregation on ``warc_ts`` —
  late pages beyond the watermark are dropped from the count state, which
  bounds state size on an unbounded crawl;
- the parquet sink + checkpointLocation gives exactly-once output — the
  streaming upgrade of the batch runner's _SUCCESS-marker resume.

Dedup in the stream is exactly the bounded-state form Spark provides:
``dedup_stream`` drops exact duplicates whose earlier copy arrived within
the watermark horizon (dropDuplicatesWithinWatermark — per-key TTL state,
evicted as event time passes). Corpus-WIDE near-dup (minhash joins over
the full history) stays in periodic batch compaction — the
lambda shape the reference's multi-job dedup also implies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from datatrove_spark.plans.pipeline import Stage, compose

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def quality_stream(stream_df: DataFrame, stages: Sequence[Stage]) -> DataFrame:
    """The batch compositor applied to a streaming DataFrame — identical
    plan, incremental execution."""
    return compose(stream_df, stages)


def dedup_stream(
    stream_df: DataFrame,
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
    key_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state: a document is
    dropped iff an identical key was seen within ``watermark`` of event
    time; state evicts as the watermark advances, so memory is bounded by
    arrival rate x horizon regardless of stream length. The key is the
    engine's h60 over the key columns (16 bytes/doc of state payload, not
    the text)."""
    from datatrove_spark.functions.hashing import hash60

    d = stream_df.withWatermark(ts_col, watermark).withColumn(
        "__key", hash60(F.concat_ws("\x1f", *[F.col(c) for c in key_cols]))
    )
    return d.dropDuplicatesWithinWatermark(["__key"]).drop("__key")


def windowed_metrics(
    annotated: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window keep/drop-reason counts with bounded state."""
    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("drop_reason"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "drop_reason",
            "n",
        )
    )


def write_stream(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once parquet sink; availableNow drains the current backlog
    then stops (the batch-catchup trigger)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
