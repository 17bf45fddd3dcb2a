"""Streaming URL dedup — bounded-state first-wins dedup at crawl ingestion.

Extension tier like the rest of ``streaming/`` (the reference has no
streaming, SURVEY.md §2.10): a crawler re-fetches the same url across WARC
segments; deduping at ingestion keeps the extraction stage from paying for
repeat documents. ``dropDuplicatesWithinWatermark("url")`` keeps ONE row
per url among rows whose event times fall within the watermark horizon of
each other — state per url is dropped once the watermark passes, so the
store is bounded by (urls seen per horizon), not by total corpus size.
Plain streaming ``dropDuplicates`` would grow state forever at 10^12 docs.

Contract (and its limit): a re-fetch arriving WITHIN the horizon of the
first sighting is dropped; a re-fetch arriving after the state was reaped
is emitted again — the standard trade of bounded state for bounded-window
exactness. Downstream exact dedup (operators/dedup.py) remains the
corpus-level guarantee; this stage is the cheap online filter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .availablenow import PAGES_SCHEMA

HORIZON = "1 hour"


def dedup_urls(pages: DataFrame, horizon: str = HORIZON) -> DataFrame:
    """First occurrence per url within the watermark horizon survives."""
    return (pages.withWatermark("warc_ts", horizon)
            .dropDuplicatesWithinWatermark(["url"]))


def run_dedup_available_now(spark: SparkSession, input_dir: str,
                            output_dir: str,
                            schema: StructType | None = None,
                            horizon: str = HORIZON,
                            checkpoint_dir: str | None = None,
                            timeout_sec: int = 600) -> int:
    """Drain available page files through the streaming url dedup, appending
    surviving rows to parquet; re-triggering resumes from the checkpoint
    (dedup state included)."""
    from .availablenow import drain_available_now

    stream = (spark.readStream.schema(schema or PAGES_SCHEMA)
              .parquet(input_dir))
    return drain_available_now(
        dedup_urls(stream, horizon), output_dir,
        lambda batch_df, _batch_id: {"deduped": batch_df},
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        label="url-dedup drain")
