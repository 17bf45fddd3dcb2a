"""Seeded benchmark inputs, cached per seed under ``perfbench/.cache``.

Every input is a pure function of ``(kind, size, seed)``: the page corpora
come from ``fixtures.genpages.gen_pages(n, seed)`` and the single-process
goldens from ``fixtures.genpages.gen_goldens`` over that corpus. Files are
written under a temporary name and renamed, so an interrupted run never
leaves a half-written cache entry behind.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq

# Small row groups so a few-MB corpus still splits into several scan tasks.
ROW_GROUP = 256


class Inputs:
    """Cache of seeded inputs rooted at ``cache_dir``."""

    def __init__(self, cache_dir: str, seed: int) -> None:
        self.dir = cache_dir
        self.seed = seed
        os.makedirs(cache_dir, exist_ok=True)

    def _cached(self, name: str, build: Callable[[], pa.Table]) -> str:
        path = os.path.join(self.dir, name)
        if not os.path.exists(path):
            tmp = f"{path}.tmp.{uuid.uuid4().hex}"
            pq.write_table(build(), tmp, compression="zstd",
                           row_group_size=ROW_GROUP)
            os.replace(tmp, path)
        return path

    def pages(self, n: int) -> str:
        from fixtures.genpages import gen_pages
        return self._cached(f"pages_n{n}_s{self.seed}.parquet",
                            lambda: gen_pages(n, self.seed))

    def goldens(self, n: int) -> str:
        """The single-process reference extraction (``url``, ``markdown``,
        ``error``, ``plain_text``, ...) of every row of ``pages(n)``."""
        from fixtures.genpages import gen_goldens
        return self._cached(f"goldens_n{n}_s{self.seed}.parquet",
                            lambda: gen_goldens(pq.read_table(self.pages(n))))
