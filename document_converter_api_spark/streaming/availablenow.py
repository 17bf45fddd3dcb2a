"""Structured Streaming wrapper: incremental extraction with
Trigger.AvailableNow over a file-source pages directory.

The reference has no streaming (SURVEY.md §2.10 — its "async" path is a
request-scoped task queue), so this is the §7.6 extension: the same
extraction stage run incrementally. ``AvailableNow`` drains whatever files
exist and stops — the batch pipeline's semantics with streaming's file-level
bookkeeping (checkpointLocation tracks processed files, complementing the
partition-granular lineage of the batch path; new crawl drops are picked up
by simply re-triggering).

foreachBatch reuses the exact batch operators, so results are byte-identical
to the batch pipeline over the same files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from ..operators.extract import extract_pipeline

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def drain_available_now(stream_df: DataFrame, output_dir: str,
                        batch_outputs,
                        checkpoint_dir: str | None = None,
                        output_mode: str = "append",
                        timeout_sec: int = 600,
                        label: str = "drain",
                        keep_state_epochs: int | None = None) -> int:
    """Shared AvailableNow drain harness (used by extraction, windowed,
    sessionize, and url-dedup wrappers — one place for the orchestration
    and failure semantics).

    ``batch_outputs(batch_df, batch_id) -> dict[subdir, DataFrame]`` maps
    each micro-batch to its output tables; the epoch id is what stateful
    folds whose merge is not idempotent need (see :func:`latest_state`),
    and other callbacks ignore it. Writes are **idempotent under micro-batch
    replay** (foreachBatch is at-least-once): every epoch owns its
    ``subdir/batch_id=N`` partition directory and overwrites it
    wholesale if the epoch replays after a crash — readers see the
    ``batch_id`` partition column. On timeout the query is stopped and a
    TimeoutError raised (earlier revisions returned silently); rerunning
    resumes from the checkpoint.

    Layout-change guard: output directories written by the pre-partitioned
    revision of this module hold flat parquet files directly under
    ``subdir/``; Spark's partition discovery refuses to mix those with
    ``batch_id=N`` subdirectories ("Conflicting directory structures"), so
    a flat legacy layout is detected up front and rejected with a
    migration message instead of producing an unreadable directory.

    ``keep_state_epochs``: for FOLDED-STATE outputs (each epoch's
    partition holds the complete merged state, e.g. the HLL/CMS
    monitors), older ``batch_id=M`` partitions are pure history and a
    long-running monitor's state dir grows one full sketch copy per
    micro-batch forever. Passing K prunes partitions older than the K
    most recent after each epoch commit (K >= 2: epoch N's replay reads
    state N-1, so the previous epoch must survive). Leave ``None`` —
    the default — for DATA outputs like the extraction drain, where
    every epoch's partition holds that batch's rows and pruning would
    delete results."""
    checkpoint = checkpoint_dir or os.path.join(output_dir, "_checkpoint")
    batches = {"n": 0}
    if keep_state_epochs is not None and keep_state_epochs < 2:
        raise ValueError(
            "keep_state_epochs must be >= 2: a replayed epoch N re-folds "
            "from state N-1, which pruning to fewer than 2 would delete")

    def _reject_legacy_flat_layout(subdir: str) -> None:
        d = os.path.join(output_dir, subdir)
        try:
            entries = os.listdir(d)
        except OSError:
            return
        flat = [e for e in entries if e.endswith(".parquet")
                and os.path.isfile(os.path.join(d, e))]
        if flat:
            raise ValueError(
                f"{d} holds flat parquet files ({flat[:3]}…) from the "
                "pre-batch_id layout; mixing them with batch_id=N "
                "partitions breaks Spark partition discovery. Move the "
                "legacy files into a batch_id=-1/ subdir (or point "
                "output_dir at a fresh directory) before draining.")

    def _prune_old_epochs(subdir: str, committed_batch_id: int) -> None:
        cutoff = committed_batch_id - (keep_state_epochs - 1)
        d = os.path.join(output_dir, subdir)
        try:
            entries = os.listdir(d)
        except OSError:
            return
        for e in entries:
            if not e.startswith("batch_id="):
                continue
            try:
                bid = int(e.split("=", 1)[1])
            except ValueError:
                continue
            if bid < cutoff:
                shutil.rmtree(os.path.join(d, e), ignore_errors=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        for subdir, df in batch_outputs(batch_df, batch_id).items():
            _reject_legacy_flat_layout(subdir)
            (df.write.mode("overwrite")
             .parquet(os.path.join(output_dir, subdir,
                                   f"batch_id={batch_id}")))
            # prune only AFTER this epoch's write committed, so a crash
            # mid-epoch never leaves fewer surviving states than promised
            if keep_state_epochs is not None:
                _prune_old_epochs(subdir, batch_id)
        batches["n"] += 1

    q = (stream_df.writeStream
         .outputMode(output_mode)
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{label} exceeded {timeout_sec}s; query stopped — "
            "rerun to resume from the checkpoint")
    return batches["n"]


def latest_state(spark: SparkSession, output_dir: str, subdir: str,
                 cols: list[str],
                 before_batch: int | None = None) -> DataFrame | None:
    """Most recent committed fold state under ``output_dir/subdir``
    (shared by the cardinality and frequency monitors).

    ``before_batch`` is load-bearing for NON-idempotent merges: a fold
    epoch must read the state strictly BEFORE its own batch_id, because
    under foreachBatch's at-least-once replay epoch N may re-run AFTER
    its own ``batch_id=N`` partition was written — reading max(batch_id)
    would then fold batch N in twice. Register-max (HLL) survives that
    by idempotence; counter-sum (CMS) does not. With ``before_batch=N``
    the replay recomputes from state N-1 and overwrites an identical
    partition, which is the idempotence contract."""
    from pyspark.errors import AnalysisException

    d = os.path.join(output_dir, subdir)
    try:
        state = spark.read.parquet(d)
    except AnalysisException:
        # missing path = genuinely no prior state (first epoch). Anything
        # else (corrupt footers, FS errors) must PROPAGATE: for the
        # non-idempotent CMS fold, treating a transient read failure as
        # "no history" would silently zero every historical count.
        return None
    if before_batch is not None:
        state = state.filter(F.col("batch_id") < before_batch)
    mx = state.agg(F.max("batch_id")).collect()[0][0]
    if mx is None:
        return None
    return state.filter(F.col("batch_id") == mx).select(*cols)


def run_available_now(spark: SparkSession, input_dir: str, output_dir: str,
                      checkpoint_dir: str | None = None,
                      max_bytes: int | None = None,
                      timeout_sec: int = 600) -> int:
    """Drain all currently-available page files through the extraction
    stage; returns number of micro-batches processed. Re-invoking after new
    files land processes only the new files (streaming file-source log)."""

    def outputs(batch_df: DataFrame, _batch_id: int) -> dict[str, DataFrame]:
        kwargs = {"max_bytes": max_bytes} if max_bytes else {}
        results, rejects = extract_pipeline(batch_df, num_partitions=16,
                                            shuffle_partitions=16, **kwargs)
        return {"results": results, "rejects": rejects}

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    return drain_available_now(stream, output_dir, outputs,
                               checkpoint_dir=checkpoint_dir,
                               timeout_sec=timeout_sec,
                               label="incremental drain")
