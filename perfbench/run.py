"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_bench --seed 1 --seconds 10 --trace 0

A run builds (or reuses) the seeded inputs, starts the Spark session
``SETUPS`` times to time set-up, checks the program's outputs on an untimed
pass, warms up with ``WARM_PASSES`` more untimed passes, then runs
closed-loop passes of the workload, one at a time, until ``--seconds`` have
elapsed and at least ``MIN_PASSES`` passes are done. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics, from passes that alternate traced and
untraced so the tracing overhead is measured in the same window. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WARM_PASSES = 2     # untimed passes after the check pass, before measuring
# wall_s and cpu_s are medians over the first MIN_PASSES timed passes. The
# passes still speed up as the JVM and the Python workers warm, so a median
# over every pass of the time-boxed window would read lower for a program
# that fits more passes into it.
MIN_PASSES = 3


def _program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "document_converter_api_spark/__init__.py", "fixtures/genpages.py",
        "__spark_entry__.py", "tools/check_oracle.py"))


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class _Phases:
    """Wall time of each phase of a run, reported on stderr."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.parts: list[str] = []

    def done(self, name: str) -> None:
        now = time.perf_counter()
        self.parts.append(f"{name}={now - self.t:.1f}s")
        self.t = now


def measure(wl, spark, seconds: float, ledger, tracer) -> dict:
    """Closed-loop passes until ``seconds`` have elapsed and ``MIN_PASSES``
    untraced passes are done. With a ledger, odd passes are traced."""
    from perfbench.session import MemSampler, host_ticks, tree_cpu
    walls = {False: [], True: []}
    cpus, layers = [], []
    deadline = time.perf_counter() + seconds
    steal0, total0 = host_ticks()
    i = 0
    with MemSampler() as mem:
        while True:
            traced = ledger is not None and i % 2 == 1
            group = f"pass-{i}" if traced else None
            cpu0 = tree_cpu()
            t0 = time.perf_counter()
            if traced:
                with tracer.begin(ledger):
                    wl.run_pass(spark, ledger, group)
            else:
                wl.run_pass(spark)
            wall = time.perf_counter() - t0
            cpu = tree_cpu() - cpu0
            walls[traced].append(wall)
            if not traced:
                cpus.append(cpu)
            else:
                ledger.settle()
                layers.append(tracer.pass_layers(wl, ledger, group))
            i += 1
            enough = i >= (MIN_PASSES if ledger is None else 2)
            if time.perf_counter() >= deadline and enough:
                break
    steal1, total1 = host_ticks()
    return {"walls": walls[False], "traced_walls": walls[True],
            "cpus": cpus, "layers": layers, "peak_pss": mem.peak,
            "steal": (steal1 - steal0) / max(total1 - total0, 1)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import Inputs
    from perfbench.layers import Tracer
    from perfbench.session import prepare_env, timed_setups
    from perfbench.trace import Ledger
    from perfbench.workloads import WORKLOADS, check_committed_goldens

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    phases = _Phases()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(ROOT, work)
    inputs = Inputs(os.path.join(HERE, ".cache"), args.seed)
    wl = WORKLOADS[args.workload](inputs, work)
    tracer = Tracer(inputs, work) if args.trace else None
    phases.done("inputs")

    attempted, failed = check_committed_goldens()
    phases.done("pin")
    spark, setups = timed_setups(work, SETUPS)
    phases.done("setups")
    try:
        n_more, n_bad = wl.check(spark)
        attempted, failed = attempted + n_more, failed + n_bad
        phases.done("check")
        for _ in range(WARM_PASSES):
            wl.run_pass(spark)
        phases.done("warm")
        ledger = None
        if args.trace:
            ledger = Ledger(spark)
            tracer.suite.expected.result()      # no DuckDB in the window
        res = measure(wl, spark, args.seconds, ledger, tracer)
        phases.done("measure")
        if args.trace:
            metrics, n_more, n_bad = tracer.finish(wl, spark, res, ledger)
            attempted, failed = attempted + n_more, failed + n_bad
            phases.done("layers")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases.done("stop")

    passes = len(res["walls"]) + len(res["traced_walls"])
    print(f"perfbench: {args.workload} seed={args.seed} passes={passes} "
          f"checked={attempted} failed={failed} {' '.join(phases.parts)} "
          f"steal={res['steal']:.1%} "
          f"setups_s={[round(x, 2) for x in setups]} "
          f"walls_s={[round(x, 2) for x in res['walls']]} "
          f"cpus_s={[round(x, 2) for x in res['cpus']]}",
          file=sys.stderr)
    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "wall_s": (statistics.median(res["walls"][:MIN_PASSES]), "s"),
            "cpu_s": (statistics.median(res["cpus"][:MIN_PASSES]), "s"),
            "peak_pss_mb": (res["peak_pss"] / 1e6, "MB"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted + passes,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
