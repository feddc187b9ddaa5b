"""Streaming ingestion: continuous mention detection over arriving pages.

The reference is a pure batch pipeline (SURVEY.md §1.3 — no streams), but a
Common-Crawl-scale deployment ingests pages continuously.  This module runs
the SAME stage-1/2 logic (the mention mapInPandas with extraction fused)
over a ``readStream`` source — the plan is identical to the batch plan,
which is the point of Structured Streaming: one definition, two execution
modes.

  * ``stream_pages``      — file-source stream of page parquet drops
  * ``stream_mentions``   — extract + mention detection on the stream
  * ``windowed_mention_counts`` — per-category counts in event-time
    tumbling windows with a watermark for late pages (A5/A6 analog)

Tests drive it with ``trigger(availableNow=True)`` + memory sink; a real
deployment swaps source/sink for Kafka/Iceberg with the same middle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import LANG
from ..operators.mention import detect_mentions

PAGE_DDL = ("url string, warc_ts timestamp, html binary, text string, "
            "lang string")


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (spark.readStream.schema(PAGE_DDL).format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_mentions(pages_stream: DataFrame,
                    layer_map: dict[str, list[dict]]) -> DataFrame:
    """extract -> mention on a streaming DataFrame: the batch mention
    UDF with extraction fused (``from_html``).  The event time rides
    through the mention UDF (``event_time_col``) so no stream-stream join
    is needed downstream."""
    return detect_mentions(pages_stream.filter(F.col("lang") == LANG),
                           layer_map, event_time_col="warc_ts",
                           from_html=True)


def windowed_mention_counts(pages_stream: DataFrame,
                            layer_map: dict[str, list[dict]],
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling-window mention counts per category, tolerating
    late pages up to the watermark."""
    m = stream_mentions(pages_stream, layer_map)
    return (
        m.filter(F.col("rec_type") == "mention")
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "category")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("win.start").alias("window_start"), "category",
                "n_mentions")
    )
