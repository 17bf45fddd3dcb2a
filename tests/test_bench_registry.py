"""The round bench accounts for every registry query: each
``__spark_entry__.queries()`` entry is either timed (``bench.BENCH_QUERIES``)
or named with a reason in ``bench.NOT_BENCHED``. No SparkSession needed."""

from __future__ import annotations

import bench
import __spark_entry__ as entrymod


def test_bench_lists_partition_the_registry():
    timed, skipped = set(bench.BENCH_QUERIES), set(bench.NOT_BENCHED)
    assert len(timed) == len(bench.BENCH_QUERIES)
    assert len(skipped) == len(bench.NOT_BENCHED)
    assert timed.isdisjoint(skipped), timed & skipped
    registry = set(entrymod.queries())
    assert timed | skipped == registry, {
        "unlisted": sorted(registry - timed - skipped),
        "unknown": sorted((timed | skipped) - registry)}
