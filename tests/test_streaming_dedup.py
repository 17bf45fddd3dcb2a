"""Streaming url dedup: first occurrence per url within the watermark
horizon survives; re-fetches inside the horizon are dropped, including
across files/micro-batches through the checkpointed state."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq

from document_converter_api_spark.streaming.dedup_stream import (
    run_dedup_available_now,
)

BASE = datetime.datetime(2025, 7, 1, 10, 0, 0)
MIN = datetime.timedelta(minutes=1)


def _pages_file(path: str, rows: list[tuple[str, datetime.datetime]]) -> None:
    pq.write_table(pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "html": pa.array([b"<p>x</p>"] * len(rows), pa.binary()),
        "text": pa.array([""] * len(rows), pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    }), path)


def test_first_wins_within_horizon_across_batches(spark, tmp_path):
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    os.makedirs(indir)

    _pages_file(os.path.join(indir, "part-000.parquet"), [
        ("https://a.example/1", BASE),
        ("https://a.example/1", BASE + 5 * MIN),   # in-file refetch: dropped
        ("https://a.example/2", BASE + 1 * MIN),
    ])
    n = run_dedup_available_now(spark, indir, outdir)
    assert n >= 1

    # cross-file refetch within the horizon: dropped via checkpointed state
    _pages_file(os.path.join(indir, "part-001.parquet"), [
        ("https://a.example/1", BASE + 10 * MIN),
        ("https://a.example/3", BASE + 11 * MIN),
    ])
    run_dedup_available_now(spark, indir, outdir)

    rows = (spark.read.parquet(os.path.join(outdir, "deduped"))
            .select("url").collect())
    urls = sorted(r.url for r in rows)
    assert urls == ["https://a.example/1", "https://a.example/2",
                    "https://a.example/3"], urls


class TestStreamingCardinality:
    def test_streamed_registers_equal_batch_sketch(self, spark, smoke_paths,
                                                   tmp_path):
        """Two file drops through the monitor; the merged state must equal
        the BATCH HLL over the union — the register merge is exact, so
        stream and batch cannot diverge at all."""
        import pyarrow.parquet as pq
        from document_converter_api_spark.operators.sketch import (
            hll_register_table,
        )
        from document_converter_api_spark.streaming.cardinality import (
            estimate_from_state, run_cardinality_monitor, _latest_state,
        )
        pages_path, _ = smoke_paths
        t = pq.read_table(pages_path)
        indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
        os.makedirs(indir)
        pq.write_table(t.slice(0, 120), os.path.join(indir, "d1.parquet"))
        assert run_cardinality_monitor(spark, indir, outdir) >= 1
        pq.write_table(t.slice(120, 80), os.path.join(indir, "d2.parquet"))
        run_cardinality_monitor(spark, indir, outdir)

        streamed = {r.register: r.rho_max
                    for r in _latest_state(spark, outdir).collect()}
        allp = os.path.join(str(tmp_path), "all.parquet")
        pq.write_table(t.slice(0, 200), allp)
        batch = {r.register: r.rho_max for r in hll_register_table(
            spark.read.parquet(allp).select("url"), key="url").collect()}
        assert streamed == batch

        n_true = t.slice(0, 200).column("url").to_pandas().nunique()
        est = estimate_from_state(spark, outdir)
        assert abs(est - n_true) / n_true < 0.3  # m=256 -> ~6.5% stderr


class TestStreamingFrequency:
    def test_streamed_counters_equal_batch_sketch(self, spark, smoke_paths,
                                                  tmp_path):
        """Two file drops through the frequency monitor; the merged
        count-min state must equal the BATCH sketch over the union —
        counters are integers and the merge is addition, so stream and
        batch agree EXACTLY (no tolerance)."""
        import pyarrow.parquet as pq
        from document_converter_api_spark.operators.sketch import cms_table
        from document_converter_api_spark.streaming.frequency import (
            _latest_state, estimate_from_state, run_frequency_monitor,
        )
        pages_path, _ = smoke_paths
        t = pq.read_table(pages_path)
        indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
        os.makedirs(indir)
        pq.write_table(t.slice(0, 120), os.path.join(indir, "d1.parquet"))
        assert run_frequency_monitor(spark, indir, outdir) >= 1
        pq.write_table(t.slice(120, 80), os.path.join(indir, "d2.parquet"))
        run_frequency_monitor(spark, indir, outdir)

        streamed = {(r.r, r.col): r.counter
                    for r in _latest_state(spark, outdir).collect()}
        allp = os.path.join(str(tmp_path), "all.parquet")
        pq.write_table(t.slice(0, 200), allp)
        batch = {(r.r, r.col): r.counter for r in cms_table(
            spark.read.parquet(allp).select("url"), key="url").collect()}
        assert streamed == batch

        # CMS guarantee holds against the merged state: estimates never
        # undercount the true frequency of any probed key
        import collections
        truth = collections.Counter(
            t.slice(0, 200).column("url").to_pylist())
        top5 = [u for u, _ in truth.most_common(5)]
        probes = spark.createDataFrame([(u,) for u in top5], "url string")
        est = {r.url: r.cms_estimate for r in
               estimate_from_state(spark, outdir, probes).collect()}
        for u in top5:
            assert est[u] >= truth[u], (u, est[u], truth[u])

    def test_replayed_epoch_does_not_double_count(self, spark, smoke_paths,
                                                  tmp_path):
        """Regression: foreachBatch is at-least-once — if epoch N crashes
        AFTER writing its batch_id=N partition but BEFORE the checkpoint
        commit, the epoch replays. Counter addition is not idempotent, so
        the fold must read the state strictly BEFORE its own batch_id;
        re-running the fold for the last epoch must reproduce the
        committed state exactly, not double it."""
        import pyarrow.parquet as pq
        from document_converter_api_spark.streaming.frequency import (
            _latest_state, fold_batch, run_frequency_monitor,
        )
        pages_path, _ = smoke_paths
        t = pq.read_table(pages_path)
        indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
        os.makedirs(indir)
        pq.write_table(t.slice(0, 120), os.path.join(indir, "d1.parquet"))
        run_frequency_monitor(spark, indir, outdir)
        pq.write_table(t.slice(120, 80), os.path.join(indir, "d2.parquet"))
        run_frequency_monitor(spark, indir, outdir)

        committed = {(r.r, r.col): r.counter
                     for r in _latest_state(spark, outdir).collect()}
        last_batch = max(
            int(r.batch_id) for r in spark.read.parquet(
                os.path.join(outdir, "counters")).select("batch_id")
            .distinct().collect())
        # simulate the replay: fold the SAME batch df at the SAME epoch id
        d2p = os.path.join(str(tmp_path), "d2_replay.parquet")
        pq.write_table(t.slice(120, 80), d2p)
        replayed = {(r.r, r.col): r.counter
                    for r in fold_batch(
                        spark, outdir, spark.read.parquet(d2p),
                        last_batch).collect()}
        assert replayed == committed


class TestStateEpochPruning:
    """A long-running monitor writes one COMPLETE merged sketch per
    micro-batch; without pruning the state dir grows one full copy per
    epoch forever (r3 advisory). The drain harness prunes folded-state
    outputs to the last ``keep_state_epochs`` partitions — and only
    AFTER each epoch's write commits, so replay (which reads state N-1)
    always finds what it needs."""

    def test_old_epochs_pruned_state_still_exact(self, spark, smoke_paths,
                                                 tmp_path):
        import pyarrow.parquet as pq
        from document_converter_api_spark.operators.sketch import cms_table
        from document_converter_api_spark.streaming.frequency import (
            _latest_state, run_frequency_monitor,
        )
        pages_path, _ = smoke_paths
        t = pq.read_table(pages_path)
        indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
        os.makedirs(indir)
        # five separate drains -> five epochs (batch_id 0..4)
        for i in range(5):
            pq.write_table(t.slice(i * 40, 40),
                           os.path.join(indir, f"d{i}.parquet"))
            run_frequency_monitor(spark, indir, outdir)

        kept = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(os.path.join(outdir, "counters"))
            if e.startswith("batch_id="))
        assert kept == [2, 3, 4], kept  # keep_state_epochs=3

        # the surviving latest state is still the exact batch sketch over
        # the full union — pruning removed history, not information
        streamed = {(r.r, r.col): r.counter
                    for r in _latest_state(spark, outdir).collect()}
        allp = os.path.join(str(tmp_path), "all.parquet")
        pq.write_table(t.slice(0, 200), allp)
        batch = {(r.r, r.col): r.counter for r in cms_table(
            spark.read.parquet(allp).select("url"), key="url").collect()}
        assert streamed == batch

    def test_data_outputs_never_pruned(self, spark, smoke_paths, tmp_path):
        """The extraction drain's epochs are DATA (each batch's results),
        not folded state — the default keep_state_epochs=None must leave
        every epoch partition in place."""
        import pyarrow.parquet as pq
        from document_converter_api_spark.streaming.availablenow import (
            run_available_now,
        )
        pages_path, _ = smoke_paths
        t = pq.read_table(pages_path)
        indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
        os.makedirs(indir)
        for i in range(4):
            pq.write_table(t.slice(i * 30, 30),
                           os.path.join(indir, f"d{i}.parquet"))
            run_available_now(spark, indir, outdir)
        kept = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(os.path.join(outdir, "results"))
            if e.startswith("batch_id="))
        assert kept == [0, 1, 2, 3], kept

    def test_keep_fewer_than_two_rejected(self, spark, tmp_path):
        import pytest
        from document_converter_api_spark.streaming.availablenow import (
            drain_available_now, PAGES_SCHEMA,
        )
        os.makedirs(str(tmp_path / "in"))
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(
            str(tmp_path / "in"))
        with pytest.raises(ValueError, match="keep_state_epochs"):
            drain_available_now(stream, str(tmp_path / "out"),
                                lambda df, batch_id: {},
                                keep_state_epochs=1)


class TestStreamingLinkage:
    def test_streamed_verdicts_equal_batch_linkage(self, spark, tmp_path):
        """Chop the new crawl into 3 files; the union of per-micro-batch
        verdicts must equal the one-shot batch link_crawl output —
        verdicts are a pure per-doc function of (doc, STATIC history),
        so batching cannot change them."""
        import os

        from jobs.linkage import link_crawl
        from document_converter_api_spark.streaming.linkage_stream import (
            run_linkage_available_now,
        )
        body = ("crawl pages shuffle partition extract markdown boiler "
                "plate strip classify tokens quality language identify "
                "dedup cluster weight sample pack shard train")
        hist = spark.createDataFrame(
            [(i, f"{body} hvar{i} " + " ".join(f"h{i}w{j}" for j in
                                               range(8)))
             for i in range(12)],
            "doc_id long, text string")
        new_rows = []
        for i in range(12):
            if i % 3 == 0:      # exact copy of history doc i
                t = f"{body} hvar{i} " + " ".join(f"h{i}w{j}"
                                                  for j in range(8))
            elif i % 3 == 1:    # near-dup of history doc i
                t = (f"{body} hvar{i} "
                     + " ".join(f"h{i}w{j}" for j in range(8))
                     + " appended")
            else:               # fresh
                t = " ".join(f"fresh{i}z{j} novel{j}" for j in range(14))
            new_rows.append((1000 + i, t))
        indir = str(tmp_path / "incoming")
        os.makedirs(indir)
        for part in range(3):   # 3 files -> AvailableNow micro-batches
            chunk = new_rows[part * 4:(part + 1) * 4]
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in chunk], pa.int64()),
                "text": pa.array([r[1] for r in chunk], pa.string()),
            }), os.path.join(indir, f"part-{part:03d}.parquet"))
        outdir = str(tmp_path / "out")
        n_batches = run_linkage_available_now(
            spark, indir, hist, outdir, timeout_sec=120)
        assert n_batches >= 1
        streamed = sorted(
            map(tuple, spark.read.parquet(f"{outdir}/verdicts")
                .drop("batch_id").collect()))
        new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
        batch = sorted(map(tuple, link_crawl(spark, hist, new_df).collect()))
        assert streamed == batch
        verdicts = {r[0]: r[1] for r in streamed}
        assert verdicts[1000] == "exact_dup"
        assert verdicts[1001] == "near_dup"
        assert verdicts[1002] == "fresh"
