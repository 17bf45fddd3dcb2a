"""Watermarked windowed aggregation over the incoming page stream.

The reference has no streaming (SURVEY.md §2.10), so like
``availablenow.py`` this is the §7.6 extension tier: crawl-rate monitoring —
per-(event-time window, lang) doc counts and byte volumes over ``warc_ts``
— as a Structured Streaming aggregation with a watermark bounding state for
late WARC records. On a crawl pipeline this is the live dashboard feed next
to the batch lineage table.

Scale notes: state is keyed by (window, lang) — cardinality = windows
retained x languages, bounded by the watermark horizon, so the state store
stays small no matter the input rate; the aggregation is a standard partial
+ final hash agg per micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .availablenow import PAGES_SCHEMA


def crawl_rate(pages: DataFrame, window: str = "1 hour",
               slide: str | None = None) -> DataFrame:
    """The aggregation itself — applied identically to a batch or a
    streaming DataFrame (the test uses the batch form as the oracle)."""
    win = (F.window("warc_ts", window, slide) if slide
           else F.window("warc_ts", window))
    return (pages.groupBy(win.alias("win"), F.col("lang"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("html")).alias("bytes_in"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "lang", "n_docs", "bytes_in"))


def q_crawl_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked batch twin of the streaming crawl-rate aggregation:
    tumbling 1-hour event-time windows per lang over the committed smoke
    pages corpus. Spark's window() arithmetic is epoch-aligned on the raw
    timestamp micros, which is exactly DuckDB's time_bucket — so the same
    numbers fall out of both engines and the oracle checks the windowed
    GROUP BY the stream runs per micro-batch."""
    import os
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    pages = spark.read.parquet(
        os.path.join(repo, "fixtures", "data", "pages_smoke.parquet"))
    return (crawl_rate(pages)
            .orderBy("window_start", "lang"))


def crawl_rate_oracle(repo_root: str) -> str:
    import os
    path = os.path.join(repo_root, "fixtures", "data", "pages_smoke.parquet")
    return f"""
        SELECT time_bucket(INTERVAL 1 HOUR, warc_ts) AS window_start,
               time_bucket(INTERVAL 1 HOUR, warc_ts) + INTERVAL 1 HOUR
                   AS window_end,
               lang,
               count(*) AS n_docs,
               CAST(sum(octet_length(html)) AS BIGINT) AS bytes_in
        FROM '{path}'
        GROUP BY 1, 2, 3
        ORDER BY window_start, lang
    """


def run_crawl_rate_available_now(spark: SparkSession, input_dir: str,
                                 output_dir: str,
                                 watermark: str = "30 minutes",
                                 window: str = "1 hour",
                                 checkpoint_dir: str | None = None,
                                 timeout_sec: int = 600) -> int:
    """Drain available page files through the watermarked windowed agg in
    update mode, appending finalized/updated window rows to parquet via
    foreachBatch. The watermark bounds both state and how late a WARC
    record may arrive and still count; re-triggering after new files land
    continues from the streaming checkpoint."""
    from .availablenow import drain_available_now

    stream_pages = (spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
                    .withWatermark("warc_ts", watermark))
    return drain_available_now(
        crawl_rate(stream_pages, window), output_dir,
        lambda batch_df, _batch_id: {"crawl_rate": batch_df},
        checkpoint_dir=checkpoint_dir, output_mode="update",
        timeout_sec=timeout_sec, label="crawl-rate drain")
