"""End-to-end extraction job: read → gate → salt-repartition → mapInArrow →
commit results + lineage, resumable at partition granularity.

This is the Spark restatement of the reference's whole request lifecycle
(SURVEY.md §3): the async background path (/root/reference/app/main.py:359-465)
*is* the batch job; the in-memory ``jobs_store`` dict (app/main.py:97) becomes
the durable :class:`LineageStore`; polling ``GET /status`` becomes reading the
lineage table; restart-safety (which the reference lacks — its state dies with
the process) is J3: only partitions not marked ``completed`` are reprocessed.

Scale notes (SURVEY.md §4.2): partitions are the checkpoint granule —
``partition_id = pmod(xxhash64(url), P)`` is stable across runs and cluster
sizes; commits batch ``partitions_per_commit`` granules per Spark action so
the commit rate is O(P/K) jobs, not O(P); the partition_id filter prunes at
the scan when the pages table is stored partitioned by the same expression —
:func:`prepartition_pages` writes that layout (Iceberg bucket transform on a
real cluster) and :func:`run_extraction_job` auto-detects it, so resume-mode
commit groups read only their own directories instead of re-scanning the
table P/K times.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..extraction.core import COUNTED_ERRORS
from ..functions.expressions import (
    MAX_FILE_SIZE,
    chunks_if_large_expr,
    markdown_to_plain_expr,
)
from ..operators.extract import prepare_pages, run_extract
from ..sources.tableio import LineageStore, ManifestTable


def _chunks(seq: list[int], size: int) -> list[list[int]]:
    return [seq[i:i + size] for i in range(0, len(seq), size)]


_PREPARTITION_META = "_prepartition.json"


def prepartition_pages(spark: SparkSession, input_path: str, out_dir: str,
                       num_partitions: int = 64) -> str:
    """One-time layout job: rewrite the pages table directory-partitioned by
    the lineage granule ``partition_id = pmod(xxhash64(url), P)``.

    A resume run over a FLAT input re-scans the whole table once per commit
    group (P/K scans total — the filter can't prune a column that only
    exists as an expression). Over this layout the same filter is a
    partition-directory predicate, so each commit group reads exactly its
    own K directories (pinned by tests/test_pipeline_resume.py). On a real
    cluster this is the Iceberg ``bucket(P, url)`` partition transform;
    here it's Hive-style ``partitionBy`` + a ``_prepartition.json`` marker
    carrying P (empty partitions leave no directory, so P cannot be
    recovered from the listing alone)."""
    import json
    pages = spark.read.parquet(input_path)
    (pages
     .withColumn("partition_id",
                 F.pmod(F.xxhash64(F.col("url")),
                        F.lit(num_partitions)).cast("int"))
     # one shuffle on the granule so each directory is one file, not
     # one-file-per-input-task (P dirs × T tasks files would crush the
     # namenode at scale)
     .repartition(num_partitions, F.col("partition_id"))
     .write.mode("overwrite").partitionBy("partition_id").parquet(out_dir))
    with open(os.path.join(out_dir, _PREPARTITION_META), "w",
              encoding="utf-8") as f:
        json.dump({"num_partitions": num_partitions}, f)
    return out_dir


def _prepartitioned_p(input_path: str) -> int | None:
    """num_partitions of a prepartitioned layout, None for flat inputs."""
    import json
    meta = os.path.join(input_path, _PREPARTITION_META)
    try:
        with open(meta, encoding="utf-8") as f:
            return int(json.load(f)["num_partitions"])
    except (OSError, ValueError, KeyError):
        return None


def partition_metrics(rows: DataFrame) -> DataFrame:
    """A6 per-partition lineage aggregates (SURVEY.md §2.4): single hash
    aggregate, map-side partials free from Catalyst.

    ``rows`` is a commit group's extracted results unioned by name with its
    gate rejects (:func:`run_extraction_job`); reject rows carry no
    ``bytes_out``. So ``doc_count`` counts extracted rows only, while
    ``bytes_in`` and ``failure_count`` include the gate rejects, and
    ``failure_urls`` holds up to 20 failing urls from either side, in no
    order. Besides the flat ``failure_count``, one ``<class>_count`` column
    per degraded error class of ``extraction/core.COUNTED_ERRORS`` (today
    ``needs_ocr_count``, ``encrypted_count``, ``timeout_count``): image-only
    PDFs the sandbox cannot OCR, files whose password the handler cannot
    derive, and documents that blew the per-doc wall-clock budget
    (operators/extract.DOC_TIME_BUDGET_S). At 100 TB these columns are how
    an operator quantifies the text the run *knowingly* left behind (the
    reference recovers the first via tesseract). Every column lands in the
    partition's lineage row."""
    return rows.groupBy("partition_id").agg(
        F.count("bytes_out").alias("doc_count"),
        F.coalesce(F.sum("bytes_in"), F.lit(0)).alias("bytes_in"),
        F.coalesce(F.sum("bytes_out"), F.lit(0)).alias("bytes_out"),
        F.count("error").alias("failure_count"),
        *(F.count_if(F.col("error") == tag).alias(f"{tag}_count")
          for tag in COUNTED_ERRORS),
        # collect_list skips the NULLs of non-failing rows
        F.slice(F.collect_list(F.when(F.col("error").isNotNull(),
                                      F.col("url"))), 1, 20)
        .alias("failure_urls"),
    )


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    num_partitions: int = 64,
    partitions_per_commit: int = 16,
    max_bytes: int = MAX_FILE_SIZE,
    shuffle_partitions: int | None = None,
    fail_after_commits: int | None = None,
    input_format: str = "parquet",
    webhook_url: str | None = None,
    gate: bool = False,
) -> dict:
    """Run (or resume) the extraction pipeline.

    ``gate=True`` applies the crawl-control gate
    (``operators/headtags.crawl_gate``: robots-noindex drop +
    canonical-cluster collapse) BEFORE the format/size gates — every
    gated page is Arrow-stage compute saved, and the gate is a pure
    function of the input so resume semantics are unchanged (the same
    page lands in the same lineage granule on every rerun).

    ``fail_after_commits`` injects a crash after N commit groups — the resume
    test's kill switch (SURVEY.md §5.2.4).

    ``input_format='warc'`` reads raw Common-Crawl-style WARC segments
    (``sources/warc.py``) instead of a pages parquet table — the rest of
    the pipeline (gates, salting, lineage, resume) is format-agnostic
    because ``prepare_pages`` only needs (url, html).

    ``webhook_url`` turns on the reference's completion push
    (app/main.py:424-452): per commit group, executor-side batched POSTs
    built from the WRITTEN results (no recompute), with the delivery log
    persisted under ``_webhooks/`` via the same idempotent per-group
    replace as the data — a resumed group redelivers exactly that group
    (at-least-once; receivers dedup on ``job_id``).
    """
    t_start = time.time()
    results_table = ManifestTable(os.path.join(output_root, "results"))
    rejects_table = ManifestTable(os.path.join(output_root, "rejects"))
    webhook_table = (ManifestTable(os.path.join(output_root, "_webhooks"))
                     if webhook_url else None)
    lineage = LineageStore(os.path.join(output_root, "_lineage", "lineage.json"))

    if input_format == "warc":
        from ..sources.warc import read_warc
        # the pages-table columns WARC doesn't carry (lang is a crawl-side
        # annotation; the rejects side-output projects it) ride as NULLs
        pages = (read_warc(spark, input_path)
                 .filter(F.col("warc_type") != "error")
                 .withColumn("lang", F.lit(None).cast("string"))
                 .withColumn("text", F.lit(None).cast("string")))
    else:
        layout_p = _prepartitioned_p(input_path)
        if layout_p is not None:
            # prepartitioned layout: P comes from the layout (a mismatched
            # caller value would silently mark directories it never read as
            # completed), and commit-group filters prune at the scan
            num_partitions = layout_p
        pages = spark.read.parquet(input_path)
    if gate:
        from ..operators.headtags import crawl_gate
        pages = crawl_gate(pages)
    valid, rejects = prepare_pages(pages, max_bytes=max_bytes,
                                   num_partitions=num_partitions)

    done = lineage.completed_partitions()
    pending = [p for p in range(num_partitions) if p not in done]
    groups = _chunks(pending, partitions_per_commit)

    stats = {"resumed": bool(done), "skipped_partitions": len(done),
             "processed_partitions": 0, "docs": 0, "failures": 0,
             "bytes_in": 0, "bytes_out": 0}

    for gi, group in enumerate(groups):
        if fail_after_commits is not None and gi >= fail_after_commits:
            raise RuntimeError(f"injected failure after {gi} commit groups")
        now = time.time()
        lineage.merge({p: {"status": "processing", "started_at": now}
                       for p in group})

        sub_valid = valid.filter(F.col("partition_id").isin(group))
        sub_rejects = rejects.filter(F.col("partition_id").isin(group))

        results = run_extract(sub_valid, shuffle_partitions=shuffle_partitions)
        key = f"g{min(group):05d}"
        written = results_table.replace_group(results, key)   # data first …
        rej_written = rejects_table.replace_group(sub_rejects, key)

        # metrics from the *written* files (no recompute of the UDF stage)
        per_partition = partition_metrics(
            written.unionByName(rej_written, allowMissingColumns=True))
        empty = {f.name: [] if isinstance(f.dataType, ArrayType) else 0
                 for f in per_partition.schema}
        mrows = {r["partition_id"]: r.asDict()
                 for r in per_partition.collect()}
        done_ts = time.time()
        if webhook_table is not None:
            from ..sources.webhook import deliver_webhooks
            log = deliver_webhooks(
                written.select("url", "error").withColumn(
                    "completed_at",
                    F.timestamp_seconds(F.lit(done_ts))),
                webhook_url)
            undeliv = (webhook_table.replace_group(log, key)
                       .filter(~F.col("delivered")).count())
            stats["webhooks_failed"] = stats.get("webhooks_failed", 0) + undeliv
        merged_rows = {}
        for p in group:
            row = {**mrows.get(p, empty),
                   "status": "completed", "completed_at": done_ts}
            del row["partition_id"]
            merged_rows[p] = row
            stats["docs"] += row["doc_count"]
            stats["failures"] += row["failure_count"]
            stats["bytes_in"] += row["bytes_in"]
            stats["bytes_out"] += row["bytes_out"]
        lineage.merge(merged_rows)                          # … lineage second
        stats["processed_partitions"] += len(group)

    stats["wall_seconds"] = round(time.time() - t_start, 3)
    stats["docs_per_sec"] = round(stats["docs"] / max(stats["wall_seconds"], 1e-9), 2)
    return stats


def postprocess_results(results: DataFrame) -> DataFrame:
    """F2/F4/P6 projection outside the UDF (SURVEY.md §2.9 U6): plain text,
    conditional chunking, content_length — pure Catalyst, codegen'd."""
    return (
        results
        .withColumn("plain_text", markdown_to_plain_expr(F.col("markdown")))
        .withColumn("chunks", chunks_if_large_expr(F.col("markdown")))
        .withColumn("total_chunks", F.size("chunks"))
        .withColumn("content_length", F.length("markdown").cast("long"))
    )
