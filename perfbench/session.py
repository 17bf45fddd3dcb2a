"""Spark session sizing, set-up timing and process-tree sampling.

The session is sized for a 4-core, 15 GB host shared with other work:
``local[4]``, a 1 GB driver heap (the JVM is the only executor in local
mode) and two shuffle partitions per core. The heap is touched in full at
JVM start, so the memory metric does not swing with when the garbage
collector happens to grow the heap; it moves with what the program holds
beyond that fixed heap (Python workers, off-heap Arrow buffers, the
driver). Every file Spark, the JVM or Python would write to a temp
directory goes under the benchmark's work directory instead.
"""

from __future__ import annotations

import os
import threading
import time

CORES = 4

# Recorded in perfbench/README.md; change both together.
SPARK_CONF = {
    "spark.driver.memory": "1g",
    "spark.sql.shuffle.partitions": str(2 * CORES),
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

_CLK = os.sysconf("SC_CLK_TCK")


def prepare_env(root: str, work: str) -> None:
    """Point every temp directory at ``work`` and make the program
    importable in the driver and in Spark's Python workers. Must run before
    the first SparkSession starts the JVM."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first starts a launcher JVM to build the Spark JVM's
    # command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")


def start_session(work: str):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                 f" -Xms{SPARK_CONF['spark.driver.memory']}"
                 " -XX:+AlwaysPreTouch"))
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


SETUP_GROUP = "setup"


def warm_up(spark) -> None:
    """Start one Python worker per core and load the extraction stage's
    code in it: an Arrow map with a task per core that imports
    ``operators.extract``, as the first real pass's workers would. It runs
    under the job group ``SETUP_GROUP`` so a traced run can read its worker
    start time."""
    def load_program(batches):
        import document_converter_api_spark.operators.extract  # noqa: F401
        yield from batches

    sc = spark.sparkContext
    sc.setJobGroup(SETUP_GROUP, SETUP_GROUP)
    df = spark.range(0, 4 * CORES, 1, CORES)
    df.mapInArrow(load_program, df.schema).write.format(
        "noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)


def timed_setups(work: str, times: int) -> tuple[object, list[float]]:
    """Start (and, but for the last, stop) the session ``times`` times.
    The first start also launches the JVM. A stop ends the Python workers,
    so every set-up starts them and imports the program again. Returns the
    live session and each set-up's seconds."""
    secs = []
    spark = None
    for i in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        warm_up(spark)
        secs.append(time.perf_counter() - t0)
    return spark, secs


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``. Steal
    is time a virtual CPU wanted to run but the hypervisor ran something
    else; a run with a high share measured a disturbed host."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = raw[raw.rfind(b")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _CLK)
    return out


def _tree(table: dict[int, tuple[int, float]]) -> list[int]:
    """This process and every descendant: the driver, the JVM and the
    Python workers."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu() -> float:
    """CPU seconds used so far by the process tree."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table) if p in table)


def tree_pss() -> int:
    """Proportional set size of the process tree, in bytes. PSS splits a
    page shared by several processes among them, so forked Python workers
    (and a JVM child between fork and exec) do not count shared memory
    twice, as a sum of RSS would."""
    total = 0
    for pid in _tree(_proc_table()):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Background thread sampling the process tree's PSS; ``peak`` holds
    the largest value seen while running."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss())
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
