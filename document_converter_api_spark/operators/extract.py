"""The extraction stage: one Arrow-batched Python operator (U1–U5).

This is the single non-Catalyst operator in the engine (SURVEY.md §2.9): the
reference's ``md_converter.convert(path).text_content`` black box
(/root/reference/app/main.py:383-391,530-531,687-690) becomes a ``mapInArrow``
stage over ``RecordBatch``es — Arrow transfer, no per-row Python at the
DataFrame level, no pandas string-dtype coercion (large_string end to end,
SURVEY.md §7.4.1).

Scale design (100 TB / 10^12 docs):
* upstream of this stage the plan is pure Catalyst: parquet scan with column
  pruning (never read ``html`` for metadata queries), pushed filters for the
  size/type gates;
* ``repartition(n, xxhash64(url), salt)`` distributes work evenly; ``salt``
  splits heavy hosts / oversize docs (SURVEY.md §4.2.1) so one hot domain
  can't serialize an executor;
* Arrow batches are re-sliced to ``max_batch_bytes`` because HTML payloads
  are 10–100 KB — a default 10k-row batch would be multi-GB
  (spark.sql.execution.arrow.maxRecordsPerBatch alone is not size-aware);
* the per-row Python loop computes only ``markdown``, ``error`` and
  ``parse_ms``: ``url``/``lang``/``content_type``/``partition_id`` are
  yielded as the input Arrow arrays (zero copy), and ``bytes_in``/
  ``bytes_out`` are ``binary_length`` kernels over ``html``/``markdown``;
* per-doc failures are captured in the ``error`` column, never raised
  (app/main.py:438-441 semantics);
* each task starts by dropping the worker's cached zip-archive finders
  (``functions.pystage.drop_zip_finders``): a reused Python worker
  otherwise re-reads the directories of ``pyspark.zip`` and the Spark jar
  before every task, a fixed cost that grows with the task count, not
  with the data.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..extraction.core import extract_document
from ..functions.expressions import (
    MAX_FILE_SIZE,
    is_large_expr,
    sniff_content_type_expr,
)
from ..functions.pystage import drop_zip_finders

# Per-document wall-clock budget for the Arrow stage, seconds. The
# reference DECLARED this number but never enforced it
# (/root/reference/app/main.py:208, CONVERSION_TIMEOUT = 300 — dead
# config per SURVEY.md §2.11); extraction/deadline.py enforces ours
# cooperatively inside the parser loops, and a blown budget surfaces as
# an error='timeout' row plus a `timeouts` accumulator — never a hung
# task or a task failure. At 10^12 docs an unenforced budget means one
# pathological page pins an executor core until the job is killed.
DOC_TIME_BUDGET_S = 300.0

# Output schema of the extraction stage, declared once; the Spark schema is
# derived from it. ``markdown`` is large_string end to end.
_ARROW_OUT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("lang", pa.string()),
        ("content_type", pa.string()),
        ("markdown", pa.large_string()),
        ("error", pa.string()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("parse_ms", pa.int64()),
        ("partition_id", pa.int32()),
    ]
)
EXTRACT_SCHEMA = from_arrow_schema(_ARROW_OUT_SCHEMA)

SUPPORTED_TYPES = ("html", "pdf", "docx")


def _slice_batches(batches: Iterator[pa.RecordBatch],
                   max_batch_bytes: int) -> Iterator[pa.RecordBatch]:
    """Re-slice incoming batches so each holds ≤ max_batch_bytes of payload;
    bounds Python-worker peak memory regardless of upstream batch sizing."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        payload = batch.column(batch.schema.get_field_index("html"))
        total = payload.nbytes
        if total <= max_batch_bytes or batch.num_rows == 1:
            yield batch
            continue
        n_slices = max(1, (total + max_batch_bytes - 1) // max_batch_bytes)
        rows_per = max(1, batch.num_rows // n_slices)
        for start in range(0, batch.num_rows, rows_per):
            yield batch.slice(start, rows_per)


def _byte_length(values: pa.Array) -> pa.Array:
    """Per-row payload size in bytes (UTF-8 bytes for strings), 0 for null."""
    return pc.fill_null(pc.binary_length(values), 0).cast(pa.int64())


def extract_arrow_batches(batches: Iterator[pa.RecordBatch],
                          max_batch_bytes: int = 64 * 1024 * 1024,
                          doc_time_budget_s: float | None = DOC_TIME_BUDGET_S
                          ) -> Iterator[pa.RecordBatch]:
    """U1–U5 over Arrow batches. Input columns: url, html, lang,
    content_type, partition_id. Rows iterate only *inside* the batch (the
    standard Arrow-UDF pattern, SURVEY.md §1.4), and only for what the
    parser alone can compute: ``markdown``, ``error`` and ``parse_ms``.
    The other input columns pass through as the same Arrow arrays, and the
    byte counts are Arrow kernels over ``html`` and ``markdown``."""
    drop_zip_finders()
    for batch in _slice_batches(batches, max_batch_bytes):
        html = batch.column("html")
        md_out: list[str | None] = []
        err_out: list[str | None] = []
        ms_out: list[int] = []
        for payload, url, ctype in zip(html.to_pylist(),
                                       batch.column("url").to_pylist(),
                                       batch.column("content_type").to_pylist()):
            t0 = time.perf_counter()
            res = extract_document(payload or b"", url or "", ctype,
                                   time_budget_s=doc_time_budget_s)
            ms_out.append(int((time.perf_counter() - t0) * 1000))
            md_out.append(res.markdown)
            err_out.append(res.error)

        markdown = pa.array(md_out, pa.large_string())
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("lang"),
                batch.column("content_type"),
                markdown,
                pa.array(err_out, pa.string()),
                _byte_length(html),
                _byte_length(markdown),
                pa.array(ms_out, pa.int64()),
                batch.column("partition_id"),
            ],
            schema=_ARROW_OUT_SCHEMA,
        )


def prepare_pages(pages: DataFrame,
                  max_bytes: int = MAX_FILE_SIZE,
                  num_partitions: int | None = None,
                  salt_buckets: int = 8) -> tuple[DataFrame, DataFrame]:
    """Validation + routing + partitioning ahead of extraction.

    Returns ``(valid, rejects)``:
    * S2 type gate (app/main.py:221-236) → rejects carry ``error`` reason
      instead of an HTTP 400 (when/otherwise, not exceptions);
    * S3 size gate (app/main.py:484-488,644-648) → ``error='too_large'``;
    * deterministic ``partition_id = pmod(xxhash64(url), P)`` — the lineage /
      checkpoint granule (stable across runs, unlike spark_partition_id);
    * ``salt`` from P5's is-large signal plus url hash splits oversize docs
      across ``salt_buckets`` shuffle targets (SURVEY.md §4.2.1).
    """
    n_parts = num_partitions or pages.sparkSession.sparkContext.defaultParallelism * 4
    typed = pages.withColumn(
        "content_type", sniff_content_type_expr(F.col("html"), F.col("url"))
    )
    if "partition_id" in pages.columns:
        # Input is the prepartitioned layout (plans/pipeline.
        # prepartition_pages): partition_id is a PHYSICAL partition-dir
        # column. Keep it — recomputing the (identical) expression would
        # orphan downstream commit-group filters from the partition column
        # and forfeit scan pruning, the whole point of the layout.
        typed = typed.withColumn("partition_id",
                                 F.col("partition_id").cast("int"))
    else:
        typed = typed.withColumn(
            "partition_id",
            F.pmod(F.xxhash64(F.col("url")), F.lit(n_parts)).cast("int"))
    gate_error = (
        F.when(~F.col("content_type").isin(*SUPPORTED_TYPES),
               F.concat(F.lit("unsupported_content_type:"), F.col("content_type")))
        .when(F.length(F.col("html")) > F.lit(max_bytes), F.lit("too_large"))
    )
    typed = typed.withColumn("gate_error", gate_error)
    rejects = (
        typed.filter(F.col("gate_error").isNotNull())
        .select("url", "lang", "content_type", "partition_id",
                F.col("gate_error").alias("error"),
                F.length("html").cast("long").alias("bytes_in"))
    )
    valid = (
        typed.filter(F.col("gate_error").isNull())
        .withColumn("salt",
                    F.when(is_large_expr(F.col("html")),
                           F.pmod(F.xxhash64(F.col("url"), F.lit(1)),
                                  F.lit(salt_buckets)))
                    .otherwise(F.lit(0)).cast("int"))
        .select("url", "html", "lang", "content_type", "partition_id", "salt")
    )
    return valid, rejects


def run_extract(valid: DataFrame,
                shuffle_partitions: int | None = None,
                max_batch_bytes: int = 64 * 1024 * 1024,
                metrics=None,
                doc_time_budget_s: float | None = DOC_TIME_BUDGET_S
                ) -> DataFrame:
    """Run the Arrow stage behind a salted repartition.

    The hash exchange on (xxhash64(url), salt) is required when downstream
    commits by partition_id granule (resume pipeline), and measured FASTER
    even on a balanced corpus: it decouples the scan from the Python stage
    and evens per-task doc counts (fusing scan+UDF into fewer, skewed tasks
    lost ~40%)."""
    spark = valid.sparkSession
    n = shuffle_partitions or spark.sparkContext.defaultParallelism * 4
    fn = lambda it: extract_arrow_batches(  # noqa: E731
        it, max_batch_bytes, doc_time_budget_s)
    if metrics is not None:
        # accumulator-backed live throughput + per-task skew channel
        # (operators/metrics.ExtractionMetrics, north-rule requirement)
        fn = metrics.wrap(fn)
    return (valid.repartition(n, F.xxhash64("url"), F.col("salt"))
            .drop("salt").mapInArrow(fn, schema=EXTRACT_SCHEMA))


def extract_pipeline(pages: DataFrame,
                     max_bytes: int = MAX_FILE_SIZE,
                     num_partitions: int | None = None,
                     shuffle_partitions: int | None = None,
                     metrics=None) -> tuple[DataFrame, DataFrame]:
    """(results, rejects) — the composed S2/S3/P5 → repartition → U1–U5 flow."""
    valid, rejects = prepare_pages(pages, max_bytes, num_partitions)
    return run_extract(valid, shuffle_partitions, metrics=metrics), rejects
