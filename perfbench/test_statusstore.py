"""Self-test of the benchmark's tracing: pins the private Spark status-store
calls ``perfbench/trace.py`` makes, so a Spark upgrade that moves or
reshapes them fails here instead of silently zeroing per-layer metrics.

Run from the repository root:

    python3 -m pytest perfbench/test_statusstore.py -q
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from perfbench import session, trace
from perfbench.layers import PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(HERE, ".work", "selftest")
    session.prepare_env(ROOT, work)
    s = session.start_session(work)
    yield s
    s.stop()
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def ledger_group(spark):
    """One shuffle + one MapInArrow stage under a job group."""
    ledger = trace.Ledger(spark)
    df = spark.range(0, 64, 1, 4).repartition(4)
    with ledger.group("selftest"):
        df.mapInArrow(lambda batches: batches, df.schema).write.format(
            "noop").mode("overwrite").save()
    ledger.settle()
    return ledger, "selftest"


def _methods(obj) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for m in obj.getClass().getMethods():
        out.setdefault(m.getName(), []).append(len(m.getParameterTypes()))
    return out


def test_private_signatures(spark):
    store = spark.sparkContext._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    assert 5 in _methods(store)["stageList"]
    assert 5 in _methods(store)["stageData"]
    sql = _methods(sql_store)
    assert 1 in sql["executionMetrics"]
    assert 1 in sql["planGraph"]
    assert 0 in sql["executionsList"]
    bus = spark.sparkContext._jsc.sc().listenerBus()
    assert 1 in _methods(bus)["waitUntilEmpty"]


def test_stage_metrics(ledger_group):
    ledger, group = ledger_group
    stages = ledger.stages(group)
    assert len(stages) >= 2
    assert sum(s["run_s"] for s in stages.values()) > 0
    assert any(s["shuffle_write_mb"] > 0 for s in stages.values())
    assert ledger.task_max_over_median(max(stages)) >= 1.0
    assert ledger.gc_s() >= 0


def test_mapinarrow_sql_metrics(ledger_group):
    ledger, group = ledger_group
    [ex] = ledger.executions(group)
    arrow = ex["nodes"]["MapInArrow"]
    for name in trace._ARROW_METRICS:
        assert name in arrow, name
        assert trace.parse_metric(arrow[name]) >= 0
    assert trace._STAGE_REF.search(arrow["time to run Python workers"])
    layers = trace.spark_layers(ledger, group)
    assert layers["spark.arrow.run_s"] > 0
    assert layers["spark.arrow.sent_mb"] > 0
    assert layers["spark.scan_gate.run_s"] > 0


@pytest.mark.parametrize("text, value", [
    ("1,845", 1845.0),
    ("250 ms", 0.25),
    ("9.0 MiB", 9.0 * 2 ** 20),
    ("total (min, med, max (stageId: taskId))\n"
     "13.5 s (532 ms, 2.0 s, 3.4 s (stage 3.0: task 4))", 13.5),
    ("total (min, med, max (stageId: taskId))\n"
     "8.9 MiB (697.0 KiB, 1280.0 KiB, 1593.3 KiB (stage 3.0: task 5))",
     8.9 * 2 ** 20),
])
def test_parse_metric(text, value):
    assert trace.parse_metric(text) == pytest.approx(value)


def test_benchmark_json_lists_every_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == list(PER_LAYER.values())
