"""Accumulator-backed live metrics for the extraction stage.

North rule (BASELINE.json): "extraction-stage throughput (docs/sec/executor)
and skew metrics emitted via Spark accumulators". The lineage table
(plans/pipeline.py) records per-partition metrics from the *written* output;
these accumulators are the complementary LIVE channel — they stream back to
the driver as tasks finish, need no extra action or scan, and work mid-job
(a SparkListener/driver thread can poll them while the stage runs).

Per batch the wrapper reads only columns the stage already produced:
``error`` (failures, plus one ``value_counts`` pass for the counted error
classes of ``extraction/core.COUNTED_ERRORS``) and the sums of
``bytes_in``/``bytes_out``/``parse_ms``.

Skew: each task appends ``(partition_id, wall_ms, docs)``; the driver-side
snapshot reduces that to max/median task wall — the number the salting
strategy (SURVEY.md §4.2.1) is meant to bound. Accumulator updates from
failed/retried tasks can double-count (Spark semantics — metrics channel,
NOT a correctness channel; correctness lives in the lineage MERGE).
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import SparkSession

from ..extraction.core import COUNTED_ERRORS, TIMEOUT

# Snapshot key / attribute name of a counted error class: its tag, except
# the timeout class, whose counter is published as "timeouts".
_COUNTER_NAME = {TIMEOUT: "timeouts"}


class _ListParam(AccumulatorParam):
    """Append-only list accumulator (per-task tuples)."""

    def zero(self, value):  # noqa: D102
        return []

    def addInPlace(self, v1, v2):  # noqa: D102, N802 — Spark API name
        v1.extend(v2)
        return v1


class ExtractionMetrics:
    """One instance per job; pass to run_extract(..., metrics=...)."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self.docs = sc.accumulator(0)
        self.failures = sc.accumulator(0)
        # one counter per degraded error class (extraction/core.
        # COUNTED_ERRORS), broken out of `failures`: text knowingly left
        # behind; each is also an attribute (metrics.needs_ocr, ...)
        self.by_class = {tag: sc.accumulator(0) for tag in COUNTED_ERRORS}
        for tag, acc in self.by_class.items():
            setattr(self, _COUNTER_NAME.get(tag, tag), acc)
        self.bytes_in = sc.accumulator(0)
        self.bytes_out = sc.accumulator(0)
        self.parse_ms = sc.accumulator(0)
        self.tasks = sc.accumulator([], _ListParam())
        self._t0 = time.time()

    def wrap(self, fn):
        """Wrap an ``extract_arrow_batches``-shaped UDF so every yielded
        batch updates the counters and each task reports
        (partition_id, wall_ms, docs)."""
        docs_acc, fail_acc, class_accs = self.docs, self.failures, self.by_class
        sums = (("bytes_in", self.bytes_in), ("bytes_out", self.bytes_out),
                ("parse_ms", self.parse_ms))
        tasks_acc = self.tasks

        def wrapped(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else -1
            t0 = time.perf_counter()
            n_docs = 0
            for batch in fn(batches):
                n = batch.num_rows
                n_docs += n
                docs_acc.add(n)
                err = batch.column("error")
                fail_acc.add(n - err.null_count)
                for vc in pc.value_counts(err).to_pylist():
                    acc = class_accs.get(vc["values"])
                    if acc is not None:
                        acc.add(vc["counts"])
                for name, acc in sums:
                    acc.add(pc.sum(batch.column(name)).as_py() or 0)
                yield batch
            tasks_acc.add([(pid, int((time.perf_counter() - t0) * 1000), n_docs)])

        return wrapped

    def snapshot(self) -> dict:
        """Driver-side reduction: throughput + skew. Call any time; cheap."""
        wall = max(time.time() - self._t0, 1e-9)
        task_ms = [t[1] for t in self.tasks.value] or [0]
        med = statistics.median(task_ms)
        return {
            "docs": self.docs.value,
            "failures": self.failures.value,
            **{_COUNTER_NAME.get(tag, tag): acc.value
               for tag, acc in self.by_class.items()},
            "bytes_in": self.bytes_in.value,
            "bytes_out": self.bytes_out.value,
            "parse_core_seconds": round(self.parse_ms.value / 1000.0, 3),
            "wall_seconds": round(wall, 3),
            "docs_per_sec": round(self.docs.value / wall, 2),
            "n_tasks": len(self.tasks.value),
            "task_ms_max": max(task_ms),
            "task_ms_median": med,
            "skew_max_over_median": (round(max(task_ms) / med, 3)
                                     if med > 0 else None),
        }
