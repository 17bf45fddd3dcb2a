"""Outside-in layer tracing: timers around calls into the program's public
functions, a single-process extraction loop, and Spark's status stores.

Nothing here changes the program. Call timers replace a module or class
attribute with a timing wrapper for the length of a ``with`` block and
put the original back afterwards. Spark-side numbers come from the status
stores Spark keeps even with the UI disabled:

* ``SparkContext.statusStore().stageList(...)`` / ``stageData(...)`` for
  per-stage run time, CPU, GC, shuffle bytes and task-time quantiles;
* ``SparkSession.sharedState().statusStore()`` for SQL executions, their
  plan graphs and ``executionMetrics(id)``, which carry the MapInArrow
  metrics (time to start / initialize / run the Python workers, bytes sent
  to / returned from them).

Both are private Spark APIs. ``perfbench/test_statusstore.py`` pins every
call made here, so a Spark upgrade fails that test instead of silently
reporting zeros.
"""

from __future__ import annotations

import contextlib
import random
import re
import statistics
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------- call timers


class CallTimer:
    """Accumulated seconds and call counts per layer name."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            self.calls[name] += 1

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until the enclosing ``active()`` block ends."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, timed)

    @contextlib.contextmanager
    def active(self):
        try:
            yield self
        finally:
            while self._undo:
                owner, attr, orig = self._undo.pop()
                setattr(owner, attr, orig)


# ------------------------------------------------ single-process extraction

CONTENT_TYPES = ("html", "pdf", "docx")


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def extraction_layers(pages_path: str, seed: int, sample: int) -> dict:
    """Per-layer numbers of the extraction core from one process, over a
    seeded sample of the corpus: per-content-type latency, the time inside
    each parser module, and the Arrow stage's boundary cost
    (``extract_arrow_batches`` minus the ``extract_document`` calls it
    makes on the same sample)."""
    from document_converter_api_spark.extraction import core
    from document_converter_api_spark.operators import extract as op_extract

    table = pq.read_table(pages_path, columns=["url", "html", "lang"])
    rows = random.Random(seed).sample(range(table.num_rows),
                                      min(sample, table.num_rows))
    table = table.take(sorted(rows))
    urls = table.column("url").to_pylist()
    payloads = table.column("html").to_pylist()

    timer = CallTimer()
    with timer.active():
        timer.wrap(core, "sniff_content_type", "sniff")
        ctypes = [core.sniff_content_type(p, u) for p, u in zip(payloads, urls)]
    keep = [i for i, c in enumerate(ctypes) if c in CONTENT_TYPES]

    per_type: dict[str, list[float]] = {c: [] for c in CONTENT_TYPES}
    with timer.active():
        timer.wrap(core, "decode_payload", "decode")
        timer.wrap(core, "html_to_markdown", "html")
        timer.wrap(core, "pdf_to_text", "pdf")
        timer.wrap(core, "docx_to_markdown", "docx")
        t_all = time.perf_counter()
        for i in keep:
            t0 = time.perf_counter()
            core.extract_document(payloads[i], urls[i], ctypes[i])
            per_type[ctypes[i]].append(time.perf_counter() - t0)
        t_all = time.perf_counter() - t_all

    batch = pa.RecordBatch.from_arrays(
        [pa.array([urls[i] for i in keep], pa.string()),
         pa.array([payloads[i] for i in keep], pa.binary()),
         table.column("lang").take(keep).combine_chunks(),
         pa.array([ctypes[i] for i in keep], pa.string()),
         pa.array([0] * len(keep), pa.int32())],
        names=["url", "html", "lang", "content_type", "partition_id"])
    with timer.active():
        timer.wrap(op_extract, "extract_document", "extract_document")
        t0 = time.perf_counter()
        out = list(op_extract.extract_arrow_batches(iter([batch])))
        arrow_s = time.perf_counter() - t0
    parse_ms = sum(pc.sum(b.column("parse_ms")).as_py() or 0
                   for b in out)

    m = {
        "extraction.core.docs_per_s_1proc": len(keep) / max(t_all, 1e-9),
        "extraction.core.decode_payload_s": timer.seconds["decode"],
        "extraction.markdown.html_to_markdown_s": timer.seconds["html"],
        "extraction.pdf.pdf_to_text_s": timer.seconds["pdf"],
        "extraction.docx.docx_to_markdown_s": timer.seconds["docx"],
        # sniff is timed over the whole sample, gate rejects included
        "extraction.sniff.sniff_content_type_s": timer.seconds["sniff"],
        "operators.extract.extract_arrow_batches_s": arrow_s,
        "operators.extract.boundary_s":
            arrow_s - timer.seconds["extract_document"],
        "operators.extract.parse_ms_coverage":
            parse_ms / 1000.0 / max(timer.seconds["extract_document"], 1e-9),
    }
    for c in CONTENT_TYPES:
        m[f"extraction.core.{c}_us_p50"] = _pct(per_type[c], 0.50) * 1e6
        m[f"extraction.core.{c}_us_p99"] = _pct(per_type[c], 0.99) * 1e6
    return m


# ------------------------------------------------------- Spark status stores

_NUM_UNIT = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_TO_BASE = {"": 1.0, "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
            "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
            "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of one ``executionMetrics`` value, in bytes or seconds.

    Spark renders a metric either as a bare total (``'1,845'``,
    ``'250 ms'``) or as a header line followed by
    ``total (min, med, max (stage s.a: task t))``."""
    line = text.split("\n")[-1]
    m = _NUM_UNIT.search(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _TO_BASE[m.group(2)]


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Ledger:
    """Reads per-stage and per-SQL-execution metrics of the Spark jobs
    run under one job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._gw = self.sc._gateway
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def gc_s(self) -> float:
        """Seconds the JVM's garbage collectors have run so far. In local
        mode the one JVM is both driver and executor."""
        beans = (self._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> dict[int, dict]:
        jobs = self.job_ids(group)
        wanted = {s for j in jobs
                  for s in self.sc.statusTracker().getJobInfo(j).stageIds}
        L = self._jvm.java.util.ArrayList
        out = {}
        for sd in _seq(self.store.stageList(
                L(), False, False, self._gw.new_array(self._jvm.double, 0),
                L())):
            sid = sd.stageId()
            if sid not in wanted or sd.status().toString() != "COMPLETE":
                continue
            out[sid] = {
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
                "tasks": sd.numTasks(),
            }
        return out

    def task_max_over_median(self, stage_id: int) -> float:
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        sd = _seq(self.store.stageData(
            stage_id, False, self._jvm.java.util.ArrayList(), True, q))[0]
        dist = sd.taskMetricsDistributions()
        if not dist.isDefined():
            return 0.0
        med, mx = _seq(dist.get().executorRunTime())
        return mx / med if med > 0 else 0.0

    def executions(self, group: str) -> list[dict]:
        """SQL executions whose jobs belong to ``group``: stage ids and
        ``{node name: {metric name: rendered value}}``."""
        jobs = set(self.job_ids(group))
        out = []
        for e in _seq(self.sql_store.executionsList()):
            if not jobs & {int(j) for j in _seq(e.jobs().keys())}:
                continue
            eid = e.executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes: dict[str, dict[str, str]] = {}
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                for metric in _seq(node.metrics()):
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        nodes.setdefault(node.name(), {})[metric.name()] = v.get()
            out.append({"stages": {int(s) for s in _seq(e.stages())},
                        "nodes": nodes})
        return out


_ARROW_METRICS = {
    "time to run Python workers": "spark.arrow.python_run_s",
    "time to initialize Python workers": "spark.arrow.python_init_s",
    "time to start Python workers": "spark.arrow.python_start_s",
    "data sent to Python workers": "spark.arrow.sent_mb",
    "data returned from Python workers": "spark.arrow.returned_mb",
}


def spark_layers(ledger: Ledger, group: str) -> dict:
    """Split the jobs of one pass into the scan/gate stages (map side of
    the salted exchange) and the Arrow stages (the stage that runs
    MapInArrow), and sum each side's status-store metrics."""
    stages = ledger.stages(group)
    m = {"spark.jobs": float(len(ledger.job_ids(group))),
         "spark.stages": float(len(stages)),
         "spark.scan_gate.run_s": 0.0, "spark.exchange.shuffle_write_mb": 0.0,
         "spark.arrow.run_s": 0.0, "spark.arrow.jvm_cpu_s": 0.0,
         "spark.arrow.task_max_over_median": 0.0}
    m.update({v: 0.0 for v in _ARROW_METRICS.values()})
    skew = []
    for ex in ledger.executions(group):
        arrow = ex["nodes"].get("MapInArrow")
        if arrow is None:
            continue
        arrow_stages = {int(s) for v in arrow.values()
                        for s in _STAGE_REF.findall(v)} & set(stages)
        for metric, key in _ARROW_METRICS.items():
            if metric in arrow:
                scale = 1e-6 if key.endswith("_mb") else 1.0
                m[key] += parse_metric(arrow[metric]) * scale
        for sid in ex["stages"] & set(stages):
            st = stages[sid]
            if sid in arrow_stages:
                m["spark.arrow.run_s"] += st["run_s"]
                m["spark.arrow.jvm_cpu_s"] += st["cpu_s"]
                skew.append(ledger.task_max_over_median(sid))
            elif st["shuffle_write_mb"] > 0:
                m["spark.scan_gate.run_s"] += st["run_s"]
                m["spark.exchange.shuffle_write_mb"] += st["shuffle_write_mb"]
    if skew:
        m["spark.arrow.task_max_over_median"] = statistics.median(skew)
    return m


def query_layers(ledger: Ledger, group: str) -> dict:
    stages = ledger.stages(group)
    return {"run_s": sum(s["run_s"] for s in stages.values()),
            "shuffle_mb": sum(s["shuffle_write_mb"] for s in stages.values())}
