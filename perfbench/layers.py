"""Per-layer metrics of a traced run (``--trace 1``).

Every workload reports every name in ``PER_LAYER``, each one measured. The
Spark-side layers come from the workload's own traced passes. The rest
come from one-off runs after the timed window: the single-process
extraction loop, the post-format projection, the query suite, and, on a
workload whose passes commit nothing (``extract_bench``), one traced
``job_resume`` pass for the commit-path layers.
"""

from __future__ import annotations

import contextlib
import os
import statistics

from perfbench import trace
from perfbench.session import SETUP_GROUP
from perfbench.workloads import (
    RESUME_GRANULES,
    RESUME_PER_COMMIT,
    SUITE_QUERIES,
    JobResume,
    QuerySuite,
    postprocess_layers,
)

PER_LAYER: dict[str, str] = {
    **{f"extraction.core.{c}_us_{q}": "us"
       for c in trace.CONTENT_TYPES for q in ("p50", "p99")},
    "extraction.core.docs_per_s_1proc": "1/s",
    "extraction.core.decode_payload_s": "s",
    "extraction.markdown.html_to_markdown_s": "s",
    "extraction.pdf.pdf_to_text_s": "s",
    "extraction.docx.docx_to_markdown_s": "s",
    "extraction.sniff.sniff_content_type_s": "s",
    "operators.extract.extract_arrow_batches_s": "s",
    "operators.extract.boundary_s": "s",
    "operators.extract.parse_ms_coverage": "ratio",
    "operators.metrics.skew_max_over_median": "ratio",
    "spark.scan_gate.run_s": "s",
    "spark.exchange.shuffle_write_mb": "MB",
    "spark.arrow.run_s": "s",
    "spark.arrow.jvm_cpu_s": "s",
    "spark.arrow.task_max_over_median": "ratio",
    "spark.arrow.python_run_s": "s",
    "spark.arrow.python_init_s": "s",
    "spark.arrow.python_start_s": "s",
    "spark.arrow.sent_mb": "MB",
    "spark.arrow.returned_mb": "MB",
    "spark.arrow.residual_s": "s",
    "functions.expressions.postprocess_s": "s",
    "sources.tableio.replace_group_s": "s",
    "sources.tableio.replace_group_calls": "count",
    "sources.tableio.lineage_merge_s": "s",
    "sources.tableio.lineage_merge_calls": "count",
    "sources.tableio.files_written": "count",
    "sources.tableio.mb_written": "MB",
    "plans.pipeline.partition_metrics_s": "s",
    "plans.pipeline.commit_groups": "count",
    "plans.pipeline.resume_skipped_partitions": "count",
    "plans.pipeline.useful_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.jvm.gc_s": "s",
    **{f"operators.{mod}.{q}.{k}": u
       for q, mod in SUITE_QUERIES.items()
       for k, u in (("wall_s", "s"), ("run_s", "s"), ("shuffle_mb", "MB"))},
    "trace.overhead_s": "s",
}

TRACE_SAMPLE = 600          # documents in the single-process extraction loop
COMMIT_PREFIXES = ("sources.tableio.", "plans.pipeline.")


class Tracer:
    def __init__(self, inputs, work: str) -> None:
        self.inputs = inputs
        self.work = work
        self.timer = trace.CallTimer()
        self.gc_s = 0.0
        self.suite = QuerySuite(inputs)

    @contextlib.contextmanager
    def begin(self, ledger: trace.Ledger):
        """Time the driver-side calls of the commit path, and the JVM's
        garbage collection, for one pass."""
        from document_converter_api_spark.plans import pipeline
        from document_converter_api_spark.sources import tableio
        self.timer = trace.CallTimer()
        t = self.timer
        with t.active():
            t.wrap(tableio.ManifestTable, "replace_group", "replace_group")
            t.wrap(tableio.LineageStore, "merge", "lineage_merge")
            t.wrap(pipeline, "run_extract", "run_extract")
            plan = pipeline.partition_metrics

            def partition_metrics(results):
                # the call only plans; the job's collect() runs the re-read
                df = plan(results)
                collect = df.collect

                def timed_collect():
                    with t.span("partition_metrics"):
                        return collect()
                df.collect = timed_collect
                return df

            t.patch(pipeline, "partition_metrics", partition_metrics)
            gc0 = ledger.gc_s()
            yield
            self.gc_s = ledger.gc_s() - gc0

    def pass_layers(self, wl, ledger: trace.Ledger, group: str) -> dict:
        t = self.timer
        m = trace.spark_layers(ledger, group)
        m["spark.jvm.gc_s"] = self.gc_s
        # Arrow-stage task time outside the Python body: shuffle read, the
        # JVM side of the Arrow hand-off, the post-format projection and
        # the sink. Spark's worker start/init times overlap the run time
        # (their sum exceeds the stage's), so they are not subtracted.
        m["spark.arrow.residual_s"] = (m["spark.arrow.run_s"]
                                       - m["spark.arrow.python_run_s"])
        if wl.name != JobResume.name:
            m["operators.metrics.skew_max_over_median"] = wl.last_skew
            return m
        files, nbytes = 0, 0
        for dirpath, _, names in os.walk(wl.last_out):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        groups = t.calls["run_extract"]
        m.update({
            "sources.tableio.replace_group_s": t.seconds["replace_group"],
            "sources.tableio.replace_group_calls": t.calls["replace_group"],
            "sources.tableio.lineage_merge_s": t.seconds["lineage_merge"],
            "sources.tableio.lineage_merge_calls": t.calls["lineage_merge"],
            "sources.tableio.files_written": files,
            "sources.tableio.mb_written": nbytes / 1e6,
            "plans.pipeline.partition_metrics_s":
                t.seconds["partition_metrics"],
            "plans.pipeline.commit_groups": groups,
            "plans.pipeline.resume_skipped_partitions":
                wl.last_stats["skipped_partitions"],
            "plans.pipeline.useful_ratio":
                RESUME_GRANULES / max(groups * RESUME_PER_COMMIT, 1),
        })
        return m

    def _commit_layers(self, spark, ledger: trace.Ledger) -> dict:
        """The commit-path layers from one traced ``job_resume`` pass, for a
        workload whose passes commit nothing."""
        job = JobResume(self.inputs, self.work)
        job._ensure_layout(spark)
        with self.begin(ledger):
            job.run_pass(spark, ledger, "commit-path")
        ledger.settle()
        return {k: v for k, v in self.pass_layers(
            job, ledger, "commit-path").items()
            if k.startswith(COMMIT_PREFIXES)}

    def finish(self, wl, spark, res: dict, ledger: trace.Ledger
               ) -> tuple[dict[str, tuple[float, str]], int, int]:
        """(metrics, attempted, failed): the traced passes' medians plus
        the one-off layers, and the query suite's oracle checks."""
        values = {k: statistics.median(p[k] for p in res["layers"])
                  for k in res["layers"][0]}
        values.update(trace.extraction_layers(wl.pages, self.inputs.seed,
                                              TRACE_SAMPLE))
        values["trace.overhead_s"] = (statistics.median(res["traced_walls"])
                                      - statistics.median(res["walls"]))
        # the passes reuse the workers the last set-up started
        values["spark.arrow.python_start_s"] = trace.spark_layers(
            ledger, SETUP_GROUP)["spark.arrow.python_start_s"]
        post_s, skew = postprocess_layers(spark, wl.pages)
        values["functions.expressions.postprocess_s"] = post_s
        values.setdefault("operators.metrics.skew_max_over_median", skew)
        if wl.name != JobResume.name:
            values.update(self._commit_layers(spark, ledger))
        runs, attempted, failed = self.suite.run_traced(spark, ledger)
        ledger.settle()
        for q, (wall, group) in runs.items():
            mod = SUITE_QUERIES[q]
            ql = trace.query_layers(ledger, group)
            values[f"operators.{mod}.{q}.wall_s"] = wall
            values[f"operators.{mod}.{q}.run_s"] = ql["run_s"]
            values[f"operators.{mod}.{q}.shuffle_mb"] = ql["shuffle_mb"]
        metrics = {k: (float(values[k]), u) for k, u in PER_LAYER.items()}
        return metrics, attempted, failed
