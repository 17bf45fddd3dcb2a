"""Transport fidelity across Arrow batch geometries.

Byte-identity must not depend on how rows are sliced into RecordBatches:
pathological maxRecordsPerBatch values (1-row batches, giant batches) and
the UDF's own byte-based re-slicing must all produce the identical markdown
per url. This pins the `_slice_batches` logic and large_string handling
independently of the default test configuration (512)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import IntegerType, LongType, StringType

from document_converter_api_spark.operators.extract import (
    EXTRACT_SCHEMA,
    extract_arrow_batches,
    prepare_pages,
    run_extract,
)

from .conftest import GOLDENS_SMOKE, PAGES_SMOKE, TEST_MAX_BYTES


@pytest.mark.parametrize("batch_rows,max_batch_bytes", [
    (1, 64 * 1024 * 1024),       # one-row batches from the JVM side
    (10000, 64 * 1024 * 1024),   # giant JVM batches
    (10000, 64 * 1024),          # tiny byte budget → heavy UDF re-slicing
])
def test_markdown_identical_across_batch_geometry(spark, batch_rows,
                                                  max_batch_bytes):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(batch_rows))
    try:
        pages = spark.read.parquet(PAGES_SMOKE).limit(120)
        valid, _ = prepare_pages(pages, max_bytes=TEST_MAX_BYTES,
                                 num_partitions=8)
        results = run_extract(valid, shuffle_partitions=8,
                              max_batch_bytes=max_batch_bytes)
        got = {r.url: r.markdown for r in results.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    gold = pq.read_table(GOLDENS_SMOKE)
    golden = dict(zip(gold.column("url").to_pylist(),
                      gold.column("markdown").to_pylist()))
    diffs = [u for u, md in got.items() if golden.get(u) != md]
    assert diffs == [], f"{len(diffs)} docs differ under batch geometry " \
                        f"({batch_rows} rows, {max_batch_bytes} bytes)"


def test_boundary_passes_input_through_and_counts_bytes():
    """The Arrow boundary itself, without Spark: a null-``html`` row, an
    erroring row and a non-ASCII row. Pass-through columns come back as the
    input arrays; byte counts equal the per-row definition (0 for null,
    UTF-8 byte length otherwise)."""
    html = ("<html><body><h1>Grüße aus Köln</h1><p>Ein naïves Café — ☃ und "
            "日本語 text, lang genug um als Inhalt zu gelten.</p></body></html>")
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["https://h.example/null.html", "https://h.example/bad.pdf",
                   "https://h.example/umlaut.html"]),
         pa.array([None, b"not a pdf", html.encode("utf-8")], pa.binary()),
         pa.array(["en", None, "de"]),
         pa.array(["html", "pdf", "html"]),
         pa.array([3, 1, 4], pa.int32())],
        names=["url", "html", "lang", "content_type", "partition_id"])
    (out,) = extract_arrow_batches(iter([batch]))

    assert [(f.name, f.dataType) for f in EXTRACT_SCHEMA] == [
        ("url", StringType()), ("lang", StringType()),
        ("content_type", StringType()), ("markdown", StringType()),
        ("error", StringType()), ("bytes_in", LongType()),
        ("bytes_out", LongType()), ("parse_ms", LongType()),
        ("partition_id", IntegerType())]
    assert from_arrow_schema(out.schema) == EXTRACT_SCHEMA
    for name in ("url", "lang", "content_type", "partition_id"):
        assert out.column(name).equals(batch.column(name)), name

    markdown = out.column("markdown").to_pylist()
    error = out.column("error").to_pylist()
    assert error[0] is None and error[2] is None
    assert error[1] is not None and markdown[1] is None
    assert "Grüße" in markdown[2]
    assert out.column("bytes_in").to_pylist() == [
        len(p) if p is not None else 0 for p in batch.column("html").to_pylist()]
    assert out.column("bytes_out").to_pylist() == [
        len(m.encode("utf-8")) if m is not None else 0 for m in markdown]
