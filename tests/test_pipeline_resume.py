"""Resume + lineage semantics (SURVEY.md §5.2.4; north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Kill after k commit groups → rerun → only pending partitions reprocessed and
the final output is identical to a single-shot run.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from document_converter_api_spark.extraction.core import COUNTED_ERRORS
from document_converter_api_spark.plans.pipeline import run_extraction_job
from document_converter_api_spark.sources.tableio import LineageStore, ManifestTable

from .conftest import TEST_MAX_BYTES

N_PARTS = 16
PER_COMMIT = 4


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


def test_kill_then_resume_processes_only_pending(spark, smoke_paths, outdir):
    pages_path, goldens_path = smoke_paths

    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, pages_path, outdir,
                           num_partitions=N_PARTS,
                           partitions_per_commit=PER_COMMIT,
                           max_bytes=TEST_MAX_BYTES,
                           fail_after_commits=1)

    lineage = LineageStore(os.path.join(outdir, "_lineage", "lineage.json"))
    done_after_kill = lineage.completed_partitions()
    assert len(done_after_kill) == PER_COMMIT

    stats = run_extraction_job(spark, pages_path, outdir,
                               num_partitions=N_PARTS,
                               partitions_per_commit=PER_COMMIT,
                               max_bytes=TEST_MAX_BYTES)
    assert stats["resumed"] is True
    assert stats["skipped_partitions"] == PER_COMMIT
    assert stats["processed_partitions"] == N_PARTS - PER_COMMIT

    # final output byte-identical to goldens for every extracted url
    results = ManifestTable(os.path.join(outdir, "results")).read(spark)
    gold = pq.read_table(goldens_path)
    golden = dict(zip(gold.column("url").to_pylist(),
                      gold.column("markdown").to_pylist()))
    rows = results.select("url", "markdown").collect()
    assert rows, "no results after resume"
    assert all(golden[r.url] == r.markdown for r in rows)

    # lineage invariants
    rows = lineage.load()
    assert set(rows) == set(range(N_PARTS))
    assert all(r["status"] == "completed" for r in rows.values())
    # doc_count counts gate-PASSING docs: extraction failures that pass the
    # format/size gates (e.g. passworded encrypted PDFs → error='encrypted',
    # markdown None) are processed docs and ARE counted, so start from the
    # golden rows whose error is not a gate-level reject.
    gold_errs = dict(zip(gold.column("url").to_pylist(),
                         gold.column("error").to_pylist()))
    gate_passing = [u for u, e in gold_errs.items()
                    if e is None or not e.startswith("unsupported_content_type")]
    assert sum(r["doc_count"] for r in rows.values()) == len(
        gate_passing) - _oversize_count(gold)
    # degradation columns (round-3 verdict item 10): lineage quantifies
    # the text the run knowingly left behind, per partition
    n_enc = sum(1 for e in gold_errs.values() if e == "encrypted")
    assert sum(r["encrypted_count"] for r in rows.values()) == n_enc
    assert n_enc > 0, "fixture lost its passworded PDFs"
    # every counted class lands in every completed lineage row
    for tag in COUNTED_ERRORS:
        assert sum(r[f"{tag}_count"] for r in rows.values()) == sum(
            1 for e in gold_errs.values() if e == tag), tag
    assert all(r["failure_count"] >= sum(r[f"{tag}_count"]
                                         for tag in COUNTED_ERRORS)
               for r in rows.values())

    # every lineage row equals a recomputation from the published tables
    res = results.select("partition_id", "url", "error", "bytes_in",
                         "bytes_out").collect()
    rej = (ManifestTable(os.path.join(outdir, "rejects")).read(spark)
           .select("partition_id", "url", "error", "bytes_in").collect())
    for p, row in rows.items():
        p_res = [r for r in res if r.partition_id == p]
        p_all = p_res + [r for r in rej if r.partition_id == p]
        failing = [r.url for r in p_all if r.error is not None]
        assert row["doc_count"] == len(p_res), p
        assert row["bytes_out"] == sum(r.bytes_out for r in p_res), p
        assert row["bytes_in"] == sum(r.bytes_in or 0 for r in p_all), p
        assert row["failure_count"] == len(failing), p
        for tag in COUNTED_ERRORS:
            assert row[f"{tag}_count"] == sum(
                r.error == tag for r in p_all), (p, tag)
        assert set(row["failure_urls"]) <= set(failing), p
        assert len(row["failure_urls"]) == min(20, len(failing)), p


def test_reject_only_partition_lineage(spark, tmp_path):
    """A partition whose only page is a gate reject still gets a full
    lineage row: no extracted docs, zero (not NULL) output bytes, one
    failure."""
    pages = str(tmp_path / "pages.parquet")
    url, html = "https://a.example/robots.txt", b"User-agent: *\nDisallow: /x\n"
    spark.createDataFrame([(url, html, "en")],
                          "url string, html binary, lang string"
                          ).write.parquet(pages)
    out = str(tmp_path / "out")
    stats = run_extraction_job(spark, pages, out, num_partitions=1,
                               partitions_per_commit=1)
    row = LineageStore(os.path.join(out, "_lineage", "lineage.json")).load()[0]
    assert (row["doc_count"], row["bytes_out"], row["failure_count"]) == (
        0, 0, 1)
    assert row["bytes_in"] == len(html)
    assert row["failure_urls"] == [url]
    assert (stats["docs"], stats["failures"], stats["bytes_out"]) == (0, 1, 0)


def _oversize_count(gold_table) -> int:
    # goldens extracted oversize rows (no size gate there); the pipeline
    # rejects them at TEST_MAX_BYTES, so doc_count differs by that many.
    urls = gold_table.column("url").to_pylist()
    md = gold_table.column("markdown").to_pylist()
    import pyarrow.parquet as pq  # noqa: F401
    from .conftest import PAGES_SMOKE
    pages = pq.read_table(PAGES_SMOKE)
    sizes = {u: len(p) for u, p in zip(pages.column("url").to_pylist(),
                                       pages.column("html").to_pylist())}
    return sum(1 for u, m in zip(urls, md)
               if m is not None and sizes[u] > TEST_MAX_BYTES)


def test_rerun_after_completion_is_noop(spark, smoke_paths, outdir):
    pages_path, _ = smoke_paths
    run_extraction_job(spark, pages_path, outdir, num_partitions=N_PARTS,
                       partitions_per_commit=PER_COMMIT,
                       max_bytes=TEST_MAX_BYTES)
    stats = run_extraction_job(spark, pages_path, outdir,
                               num_partitions=N_PARTS,
                               partitions_per_commit=PER_COMMIT,
                               max_bytes=TEST_MAX_BYTES)
    assert stats["processed_partitions"] == 0
    assert stats["docs"] == 0


class TestPrepartitionedLayout:
    def test_commit_group_filter_prunes_at_scan(self, spark, smoke_paths,
                                                tmp_path):
        """Over the prepartitioned layout, a commit group's partition_id
        filter must become a partition-directory predicate: the scan reads
        ONLY the group's directories (no P/K re-scans of the full table)."""
        from pyspark.sql import functions as F
        from document_converter_api_spark.operators.extract import (
            prepare_pages,
        )
        from document_converter_api_spark.plans.pipeline import (
            prepartition_pages,
        )
        pages_path, _ = smoke_paths
        pdir = str(tmp_path / "pp")
        prepartition_pages(spark, pages_path, pdir, num_partitions=N_PARTS)

        pages = spark.read.parquet(pdir)
        valid, _rejects = prepare_pages(pages, max_bytes=TEST_MAX_BYTES,
                                        num_partitions=N_PARTS)
        group = [0, 1, 2, 3]
        sub = valid.filter(F.col("partition_id").isin(group))
        plan = sub._jdf.queryExecution().executedPlan().toString()
        # the isin must land in the scan's PartitionFilters (directory
        # pruning), not survive only as a post-scan Filter
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "partition_id" in m.group(1), plan
        # and the pruned scan reads exactly the group's directories: same
        # rows as reading those directories alone
        direct = sum(
            spark.read.parquet(os.path.join(pdir, f"partition_id={p}"))
            .count() for p in group
            if os.path.isdir(os.path.join(pdir, f"partition_id={p}")))
        # valid excludes gate rejects; compare against the same gate
        direct_valid, _ = prepare_pages(
            spark.read.parquet(pdir).filter(
                F.col("partition_id").isin(group)),
            max_bytes=TEST_MAX_BYTES, num_partitions=N_PARTS)
        assert sub.count() == direct_valid.count()
        assert sub.count() <= direct

    def test_prepartitioned_run_equals_flat_run(self, spark, smoke_paths,
                                                tmp_path):
        """Same results and lineage whether the job reads the flat table or
        the prepartitioned layout (P auto-detected from the marker)."""
        from document_converter_api_spark.plans.pipeline import (
            prepartition_pages, run_extraction_job,
        )
        pages_path, _ = smoke_paths
        flat_out = str(tmp_path / "flat_out")
        pp_out = str(tmp_path / "pp_out")
        pdir = str(tmp_path / "pp_in")
        prepartition_pages(spark, pages_path, pdir, num_partitions=N_PARTS)

        s1 = run_extraction_job(spark, pages_path, flat_out,
                                num_partitions=N_PARTS,
                                partitions_per_commit=PER_COMMIT,
                                max_bytes=TEST_MAX_BYTES)
        # deliberately wrong caller P: the layout marker must win
        s2 = run_extraction_job(spark, pdir, pp_out,
                                num_partitions=N_PARTS * 2,
                                partitions_per_commit=PER_COMMIT,
                                max_bytes=TEST_MAX_BYTES)
        assert (s1["docs"], s1["failures"]) == (s2["docs"], s2["failures"])
        assert s2["processed_partitions"] == N_PARTS
        r1 = ManifestTable(os.path.join(flat_out, "results")).read(spark)
        r2 = ManifestTable(os.path.join(pp_out, "results")).read(spark)
        cols = ["url", "markdown", "error", "partition_id"]
        assert r1.select(cols).exceptAll(r2.select(cols)).count() == 0
        assert r2.select(cols).exceptAll(r1.select(cols)).count() == 0


def test_lineage_delete(spark, smoke_paths, outdir):
    pages_path, _ = smoke_paths
    run_extraction_job(spark, pages_path, outdir, num_partitions=N_PARTS,
                       partitions_per_commit=N_PARTS,
                       max_bytes=TEST_MAX_BYTES)
    lineage = LineageStore(os.path.join(outdir, "_lineage", "lineage.json"))
    assert lineage.delete(0) is True
    assert lineage.delete(0) is False
    stats = run_extraction_job(spark, pages_path, outdir,
                               num_partitions=N_PARTS,
                               partitions_per_commit=N_PARTS,
                               max_bytes=TEST_MAX_BYTES)
    assert stats["processed_partitions"] == 1  # only the deleted granule
