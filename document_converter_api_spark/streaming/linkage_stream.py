"""Streaming cross-crawl linkage — verdict every arriving document
against a STATIC historical corpus.

Extension tier like the rest of ``streaming/`` (the reference has no
streaming, SURVEY.md §2.10): the batch job ``jobs/linkage.py`` classifies
a finished crawl; this drain classifies documents AS THEY ARRIVE —
exact_dup (broadcast-Bloom + exact semi-join), near_dup (MinHash band
probe with best-match agreement), or fresh — so downstream stages can
skip known content without waiting for the crawl to close.

Shape: the history INDEX (md5 fingerprints, Bloom table, MinHash
signatures — the crawl-invariant artifacts) is built and persisted ONCE
before the drain starts and passed into every micro-batch, which runs
the identical batch ``link_crawl`` DAG against it inside ``foreachBatch``
(the AvailableNow harness); only the arriving documents are hashed and
shuffled per batch. Verdicts are a pure per-document function of
(doc, history), so the union of per-batch outputs equals the one-shot
batch output REGARDLESS of how the stream is chopped into micro-batches —
the strongest stream==batch pin available, and it is pinned in
``tests/test_streaming_dedup.py``. Each epoch owns its ``batch_id=N``
partition (idempotent under foreachBatch replay — verdict rows are data,
not folded state, so no epoch pruning); the index caches are released
when the drain ends.

At production scale the persisted signature/band index becomes the
write-once bucketed table (sources/bucketed.py) — same two-consumer
shape, storage-backed instead of cache-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])


def run_linkage_available_now(spark: SparkSession, input_dir: str,
                              history_df: DataFrame, output_dir: str,
                              min_agree: int | None = None,
                              schema: StructType | None = None,
                              checkpoint_dir: str | None = None,
                              timeout_sec: int = 600) -> int:
    """Drain available (doc_id, text) files, writing one verdict row per
    arriving document under ``<output>/verdicts/batch_id=N``. Returns
    micro-batches processed; rerunning resumes from the checkpoint."""
    from jobs.linkage import (
        DEFAULT_MIN_AGREE, build_history_index, link_crawl,
    )

    from .availablenow import drain_available_now

    cut = DEFAULT_MIN_AGREE if min_agree is None else min_agree
    index = build_history_index(spark, history_df)

    def outputs(batch_df: DataFrame, _batch_id: int) -> dict[str, DataFrame]:
        return {"verdicts": link_crawl(
            spark, None, batch_df.select("doc_id", "text"),
            min_agree=cut, index=index)}

    stream = (spark.readStream.schema(schema or DOCS_SCHEMA)
              .parquet(input_dir))
    try:
        return drain_available_now(stream, output_dir, outputs,
                                   checkpoint_dir=checkpoint_dir,
                                   timeout_sec=timeout_sec,
                                   label="linkage drain")
    finally:
        index.release()
