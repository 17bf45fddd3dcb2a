"""Iceberg-style table shim: parquet data files + JSON manifest commits.

No Iceberg/Delta jars ship in this sandbox (SURVEY.md §7.1), so tables are a
thin deterministic layer with the same observable semantics the pipeline
needs on a real cluster — swap :class:`ManifestTable` for a real Iceberg
catalog (``df.writeTo(...).append()`` / ``MERGE INTO``) and nothing upstream
changes:

* **replace_group**: write a new parquet directory, then atomically publish
  it under its commit key in ``manifest.json`` (``os.replace`` — atomic per
  POSIX on one filesystem; SURVEY.md §7.4.6), replacing that key's previous
  commit. Data written but not yet in the manifest is invisible — a killed
  run never exposes partial output.
* **delete_where**: the snapshot-rewrite equivalent of ``DELETE WHERE``.
* **LineageStore.merge**: the MERGE-INTO-keyed-on-partition_id upsert that
  backs partition-granular checkpointing (north rule — the reference keeps
  job state in an in-memory dict, /root/reference/app/main.py:97, and loses
  it on restart; ours must not).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def _atomic_write_json(path: str, obj: Any) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class ManifestTable:
    """Parquet directories published through an atomic JSON manifest."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        self.manifest_path = os.path.join(root, "manifest.json")

    # inline snapshot-log bound: each log entry copies the full commits
    # map, so an unbounded log grows the manifest quadratically with
    # commit count (Iceberg avoids this by writing snapshots as separate
    # manifest FILES — the real-catalog swap documented in the module
    # header). Beyond the bound the OLDEST entries roll off; their data
    # dirs stay until expire_snapshots reclaims them.
    MAX_INLINE_SNAPSHOTS = 64

    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"snapshot_id": 0, "commits": {}, "snapshots": []}
        with open(self.manifest_path, encoding="utf-8") as f:
            return json.load(f)

    def _publish(self, man: dict) -> None:
        """Bump the snapshot id, log the new snapshot's commits map (the
        time-travel history — Iceberg's snapshot log), and atomically
        publish. Every mutation goes through here so history is complete."""
        man["snapshot_id"] += 1
        man["committed_at"] = time.time()
        man["snapshots"].append({
            "id": man["snapshot_id"],
            "ts": man["committed_at"],
            "commits": dict(man["commits"]),
        })
        man["snapshots"] = man["snapshots"][-self.MAX_INLINE_SNAPSHOTS:]
        _atomic_write_json(self.manifest_path, man)

    def commits(self) -> dict[str, str]:
        """commit_key -> data subdirectory (published commits only)."""
        return dict(self._load()["commits"])

    def replace_group(self, df: DataFrame, commit_key: str) -> DataFrame:
        """Write ``df`` as the commit for ``commit_key``, publish it
        atomically (replacing the key's previous commit: a re-run of a
        partition group after a kill between data write and lineage merge
        is idempotent), and return the published data read back."""
        subdir = f"commit-{commit_key}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, "data", subdir)
        df.write.mode("overwrite").parquet(out)
        man = self._load()
        man["commits"][commit_key] = subdir
        self._publish(man)
        return df.sparkSession.read.parquet(out)

    def read(self, spark: SparkSession,
             as_of_snapshot: int | None = None) -> DataFrame:
        """Read the current table, or — Iceberg time travel — the table
        exactly as published at ``as_of_snapshot``. An expired or unknown
        snapshot id raises (same contract as Iceberg: time travel only
        reaches snapshots retained by ``expire_snapshots``)."""
        man = self._load()
        if as_of_snapshot is None:
            commits = man["commits"]
        else:
            match = [s for s in man["snapshots"] if s["id"] == as_of_snapshot]
            if not match:
                raise LookupError(
                    f"snapshot {as_of_snapshot} not found at {self.root} "
                    "(never existed, or expired by expire_snapshots)")
            commits = match[0]["commits"]
        paths = [os.path.join(self.root, "data", d) for d in commits.values()]
        if not paths:
            raise FileNotFoundError(f"empty table at {self.root}")
        return spark.read.parquet(*paths)

    def snapshots(self) -> list[dict]:
        """The retained snapshot log (id, ts, commits), oldest first."""
        return list(self._load()["snapshots"])

    def is_empty(self) -> bool:
        return not self._load()["commits"]

    def delete_where(self, spark: SparkSession, predicate: str) -> int:
        """S7 retention sweep (app/main.py:301-343 → snapshot rewrite):
        rewrite every commit without rows matching ``predicate``; returns
        deleted row count."""
        man = self._load()
        deleted = 0
        for key, subdir in list(man["commits"].items()):
            path = os.path.join(self.root, "data", subdir)
            df = spark.read.parquet(path)
            keep = df.filter(f"NOT ({predicate})")
            n_before = df.count()
            n_after = keep.count()
            if n_after == n_before:
                continue
            deleted += n_before - n_after
            new_subdir = f"commit-{key}-{uuid.uuid4().hex[:8]}"
            keep.write.mode("overwrite").parquet(
                os.path.join(self.root, "data", new_subdir))
            man["commits"][key] = new_subdir
        if deleted == 0:
            # nothing changed: publishing would append a no-op snapshot
            # (log churn that pushes real history out of a keep_last
            # horizon) — nightly sweeps with empty matches stay invisible
            return 0
        self._publish(man)
        return deleted


    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Iceberg ``expire_snapshots`` analog: trim the snapshot log to
        the most recent ``keep_last`` entries (the CURRENT snapshot is
        always retained) and physically remove data directories no longer
        referenced by any retained snapshot (left behind by
        ``replace_group``/``delete_where`` rewrites). Returns directories
        removed. ``keep_last=1`` keeps only the live table (the
        maintenance-job default); larger values preserve a time-travel
        horizon. Safe against concurrent readers of RETAINED snapshots
        only, exactly like Iceberg's: a reader pinned to an expired
        snapshot loses it."""
        import shutil
        man = self._load()
        man["snapshots"] = man["snapshots"][-max(1, keep_last):]
        live = set(man["commits"].values())
        for s in man["snapshots"]:
            live.update(s["commits"].values())
        _atomic_write_json(self.manifest_path, man)
        data_dir = os.path.join(self.root, "data")
        removed = 0
        for d in os.listdir(data_dir):
            p = os.path.join(data_dir, d)
            if os.path.isdir(p) and d not in live:
                shutil.rmtree(p)
                removed += 1
        return removed


class LineageStore:
    """Per-partition lineage/status rows (FIXTURES.md §4 ``lineage`` schema),
    upserted MERGE-style keyed on partition_id (S9, SURVEY.md §2.1)."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def load(self) -> dict[int, dict]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path, encoding="utf-8") as f:
            raw = json.load(f)
        return {int(k): v for k, v in raw.items()}

    def merge(self, rows: dict[int, dict]) -> None:
        """MERGE INTO lineage USING rows ON partition_id (app/main.py:503,
        663 job-store upserts → durable table)."""
        cur = self.load()
        for pid, row in rows.items():
            merged = cur.get(pid, {})
            merged.update(row)
            cur[pid] = merged
        _atomic_write_json(self.path, {str(k): v for k, v in cur.items()})

    def completed_partitions(self) -> set[int]:
        return {pid for pid, row in self.load().items()
                if row.get("status") == "completed"}

    def delete(self, partition_id: int) -> bool:
        """S10 ≙ DELETE /jobs/{job_id} (app/main.py:864-874)."""
        cur = self.load()
        if partition_id not in cur:
            return False
        del cur[partition_id]
        _atomic_write_json(self.path, {str(k): v for k, v in cur.items()})
        return True
