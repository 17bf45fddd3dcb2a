"""ManifestTable semantics: keyed replace commits, S7 retention delete
(snapshot rewrite), atomic manifest state.

S7 maps the reference's temp-file retention sweep
(/root/reference/app/main.py:301-343) onto a DELETE-WHERE snapshot rewrite
over the Iceberg-style manifest table (SURVEY.md §2.1 S7).
"""

from __future__ import annotations

import os

from pyspark.sql import Row

from document_converter_api_spark.sources.tableio import ManifestTable


def _mk_table(spark, root: str) -> ManifestTable:
    t = ManifestTable(root)
    t.replace_group(spark.createDataFrame(
        [Row(url=f"u{i}", age_hours=i) for i in range(10)]), "g0")
    t.replace_group(spark.createDataFrame(
        [Row(url=f"v{i}", age_hours=20 + i) for i in range(10)]), "g1")
    return t


def test_delete_where_rewrites_matching_commits_only(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "tbl"))
    before = {k: v for k, v in t.commits().items()}
    snap_before = t._load()["snapshot_id"]

    deleted = t.delete_where(spark, "age_hours >= 24")

    assert deleted == 6  # v4..v9 have age 24..29
    rows = {r["url"]: r["age_hours"] for r in t.read(spark).collect()}
    assert len(rows) == 14
    assert all(age < 24 for age in rows.values())
    after = t.commits()
    assert after["g0"] == before["g0"], "untouched commit must not rewrite"
    assert after["g1"] != before["g1"], "matching commit must be rewritten"
    assert t._load()["snapshot_id"] == snap_before + 1


def test_delete_where_no_match_is_noop_commitwise(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "tbl2"))
    before = dict(t.commits())
    assert t.delete_where(spark, "age_hours > 999") == 0
    assert t.commits() == before
    assert t.read(spark).count() == 20


def test_replace_group_is_idempotent(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl3"))
    df = spark.createDataFrame([Row(url="a", n=1), Row(url="b", n=2)])
    t.replace_group(df, "g0")
    # rerun of the same commit group (resume path); the returned frame is
    # the published commit read back
    published = t.replace_group(df, "g0")
    assert t.read(spark).count() == 2
    assert sorted(published.collect()) == sorted(df.collect())


def test_expire_snapshots_reclaims_orphaned_dirs(spark, tmp_path):
    import os
    t = _mk_table(spark, str(tmp_path / "tbl4"))
    t.delete_where(spark, "age_hours >= 24")   # rewrites g1 → orphans old dir
    t.replace_group(spark.createDataFrame(
        [Row(url="w0", age_hours=1)]), "g0")   # rewrites g0 → orphans old dir
    data_dir = os.path.join(t.root, "data")
    n_dirs_before = len(os.listdir(data_dir))
    removed = t.expire_snapshots()
    assert removed == 2
    assert len(os.listdir(data_dir)) == n_dirs_before - 2
    # published table unaffected
    assert t.read(spark).count() == 10 + 4 + 1 - 10  # g0 replaced, g1 pruned
    assert t.expire_snapshots() == 0  # idempotent


class TestRetentionSweepJob:
    """jobs/maintenance.py — the reference's cleanup_old_temp_files sweep
    (app/main.py:301-343) as a standalone job over the table store."""

    def _job_output(self, spark, root: str, now: float):
        import os
        from document_converter_api_spark.sources.tableio import LineageStore
        results = ManifestTable(os.path.join(root, "results"))
        rejects = ManifestTable(os.path.join(root, "rejects"))
        lineage = LineageStore(os.path.join(root, "_lineage", "lineage.json"))
        results.replace_group(spark.createDataFrame(
            [Row(url="old1", partition_id=0), Row(url="old2", partition_id=1),
             Row(url="new1", partition_id=2)]), "g00000")
        rejects.replace_group(spark.createDataFrame(
            [Row(url="oldrej", partition_id=0)]), "g00000")
        lineage.merge({
            0: {"status": "completed", "completed_at": now - 48 * 3600},
            1: {"status": "completed", "completed_at": now - 25 * 3600},
            2: {"status": "completed", "completed_at": now - 1 * 3600},
            3: {"status": "processing", "started_at": now - 99 * 3600},
        })
        return results, rejects, lineage

    def test_sweep_deletes_only_expired_completed_granules(self, spark,
                                                           tmp_path):
        import time
        from jobs.maintenance import retention_sweep
        now = time.time()
        root = str(tmp_path / "job")
        results, rejects, lineage = self._job_output(spark, root, now)

        dry = retention_sweep(spark, root, retention_hours=24.0, now=now,
                              dry_run=True)
        assert dry["expired_partitions"] == [0, 1]
        assert dry["deleted_rows"] == 0  # dry run touches nothing
        assert results.read(spark).count() == 3

        stats = retention_sweep(spark, root, retention_hours=24.0, now=now)
        assert stats["expired_partitions"] == [0, 1]
        assert stats["deleted_rows"] == 2
        assert stats["deleted_reject_rows"] == 1
        assert stats["lineage_deleted"] == 2
        assert stats["snapshot_dirs_removed"] >= 2  # both rewrites reclaimed
        rows = {r.url for r in results.read(spark).collect()}
        assert rows == {"new1"}
        # recent-completed and in-flight granules survive in lineage
        assert set(lineage.load()) == {2, 3}

    def test_sweep_noop_when_nothing_expired(self, spark, tmp_path):
        import time
        from jobs.maintenance import retention_sweep
        now = time.time()
        root = str(tmp_path / "job2")
        self._job_output(spark, root, now)
        stats = retention_sweep(spark, root, retention_hours=96.0, now=now)
        assert stats["expired_partitions"] == []
        assert stats["deleted_rows"] == 0


class TestTimeTravel:
    def test_read_as_of_snapshot_sees_history(self, spark, tmp_path):
        """Iceberg-style time travel: each publish logs its commits map;
        read(as_of_snapshot=N) reconstructs the table exactly as of N,
        including rows later removed by delete_where."""
        from document_converter_api_spark.sources.tableio import (
            ManifestTable,
        )
        t = ManifestTable(str(tmp_path / "tt"))
        t.replace_group(spark.createDataFrame([("a", 1)], "url string, v int"),
                        "g0")
        s1 = t.snapshots()[-1]["id"]
        t.replace_group(spark.createDataFrame([("b", 2)], "url string, v int"),
                        "g1")
        s2 = t.snapshots()[-1]["id"]
        t.delete_where(spark, "url = 'a'")
        s3 = t.snapshots()[-1]["id"]
        assert s1 < s2 < s3
        assert {r.url for r in t.read(spark).collect()} == {"b"}
        assert {r.url for r in t.read(spark, as_of_snapshot=s2).collect()} \
            == {"a", "b"}
        assert {r.url for r in t.read(spark, as_of_snapshot=s1).collect()} \
            == {"a"}

    def test_expire_trims_history_and_reclaims_disk(self, spark, tmp_path):
        """expire_snapshots(keep_last=K) keeps a K-deep time-travel
        horizon; expired snapshots raise on read and their exclusive data
        dirs are physically removed, while retained history still reads."""
        import pytest as _pytest
        from document_converter_api_spark.sources.tableio import (
            ManifestTable,
        )
        t = ManifestTable(str(tmp_path / "tt2"))
        t.replace_group(spark.createDataFrame([("a", 1)], "url string, v int"),
                        "g0")
        s1 = t.snapshots()[-1]["id"]
        t.delete_where(spark, "url = 'a'")   # rewrite orphans s1's dir
        t.replace_group(spark.createDataFrame([("c", 3)], "url string, v int"),
                        "g1")
        s3 = t.snapshots()[-1]["id"]

        removed = t.expire_snapshots(keep_last=2)
        assert removed >= 1                   # s1's rewritten dir reclaimed
        with _pytest.raises(LookupError):
            t.read(spark, as_of_snapshot=s1)
        # retained horizon still time-travels; live read unaffected
        assert t.read(spark, as_of_snapshot=s3) is not None
        assert {r.url for r in t.read(spark).collect()} == {"c"}
