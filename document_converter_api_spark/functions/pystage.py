"""Per-task set-up for the engine's Python stages.

A stage's batch function (its ``mapInArrow``/``mapInPandas`` body) calls
:func:`drop_zip_finders` as its first statement; the extraction stage and
the n-gram repetition stage do.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Delete the ``zipimporter`` entries from ``sys.path_importer_cache``.

    Three things together make every task of a Python stage pay for
    re-reading whole zip archives it never imports from:

    * before every task, pyspark's reused worker calls
      ``importlib.invalidate_caches()`` (``pyspark.worker_util.
      setup_spark_files``);
    * on CPython 3.11 that makes every cached ``zipimport.zipimporter``
      re-read its archive's whole central directory;
    * Spark puts ``pyspark.zip`` and the spark-core jar on every worker's
      ``PYTHONPATH``, and the worker's own imports leave one finder cached
      per package directory inside them (16 with Spark 4.1).

    On a 4-core VM one such invalidation took 0.12-0.23 CPU-s per task,
    more than the extraction stage's Arrow boundary costs. The import
    system rebuilds a dropped finder the next time something imports
    through its path; in steady state nothing does, so the next
    invalidation has nothing to re-read. ``FileFinder`` entries stay
    (pyspark invalidates for them: new ``.py`` files in the Spark files
    dir), and ``sys.path`` and ``sys.modules`` are untouched.

    Delete this helper when pyspark stops invalidating the import caches
    per task, or when the interpreter re-reads zip directories lazily.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
