"""Structured Streaming variant: the streaming mention counts must equal
the batch counts over the same pages (one definition, two modes)."""

import pytest
from pyspark.sql import functions as F

from apt_bron_re_spark.operators.mention import detect_mentions, mentions_view
from apt_bron_re_spark.sources.pages import pages_df
from apt_bron_re_spark.streaming.mention_stream import (
    stream_pages,
    windowed_mention_counts,
)

N_PAGES = 25


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages_stream"))
    # two "drops" arriving separately
    pages_df(spark, N_PAGES).filter("warc_ts < '2022-01-01'") \
        .write.mode("append").parquet(path)
    pages_df(spark, N_PAGES).filter("warc_ts >= '2022-01-01'") \
        .write.mode("append").parquet(path)
    return path


def test_streaming_counts_equal_batch(spark, layer_map, pages_path,
                                      tmp_path_factory):
    stream = stream_pages(spark, pages_path, max_files_per_trigger=4)
    # watermark wider than the corpus' full time span: file-source
    # microbatches arrive out of event-time order, and this test checks
    # batch/stream plan parity, not the late-drop policy
    counts = windowed_mention_counts(stream, layer_map, window="30 days",
                                     watermark="3650 days")
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    # complete mode: the memory sink holds the full result table, so no
    # watermark flush is needed to observe the counts
    q = (counts.writeStream.format("memory").queryName("mention_counts")
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = (spark.table("mention_counts")
           .groupBy("category").agg(F.sum("n_mentions").alias("n"))
           .collect())
    got_counts = {r.category: r.n for r in got}

    pages = spark.read.parquet(pages_path)
    batch = detect_mentions(pages.filter("lang = 'en'"), layer_map,
                            from_html=True)
    want = {r.category: r.n for r in
            mentions_view(batch).groupBy("category")
            .agg(F.count("*").alias("n")).collect()}

    # append mode only emits windows older than the watermark; with a huge
    # window + availableNow the final watermark flushes everything
    assert got_counts == want
