"""Stateful sessionization — the custom stateful streaming operator tier.

The reference has no streaming (SURVEY.md §2.10 — its "async" path is
request-scoped FastAPI BackgroundTasks, ``/root/reference/app/main.py:359-465``),
so like ``availablenow.py``/``windowed.py`` this is the §7.6 extension tier:
the one streaming shape Spark's built-in windowed aggregation cannot express —
**gap-based sessions** (a session = a maximal run of one user's events where
consecutive event-time gaps stay within ``gap``) — implemented with
``applyInPandasWithState`` (Arrow-batched per-key state, event-time timeout).

Two implementations with identical semantics:

* ``sessionize_batch(events)`` — the batch twin: pure window functions
  (lag → gap flag → running-sum session index → groupBy). DuckDB-oracle
  checkable; this is the ``sessionize`` entry in ``__spark_entry__``.
* ``sessionize_stream(events)`` — the streaming form. Per-key state holds the
  open session ``(start_ms, end_ms, n, total)``; a session closes either
  (a) in-batch, when a later event for the key arrives more than ``gap``
  after its end, or (b) by **event-time timeout**, when the watermark passes
  ``end + gap`` — so every session is eventually emitted exactly once, and
  state per key is O(1) regardless of stream length.

Scale notes (100 TB / 10^9 users): state is one fixed-width row per *open*
session per user — the watermark reaps idle keys via the timeout, so the
state store is bounded by the number of users active inside one gap horizon,
not total users ever seen. The shuffle is the single hash exchange on
``user_id`` that any keyed-state operator needs; skewed power users cost one
hot key each but state updates are O(events), not O(sessions). Late events
older than the watermark are dropped by Spark before the operator runs —
the documented trade of bounded state for bounded lateness.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType, TimestampType,
)
from pyspark.sql.window import Window

GAP = "30 minutes"
GAP_MS = 30 * 60 * 1000

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

# open-session state: start_ms, end_ms, n, total
STATE_SCHEMA = StructType([
    StructField("start_ms", LongType()),
    StructField("end_ms", LongType()),
    StructField("n", LongType()),
    StructField("total", DoubleType()),
])

def sessionize_batch(events: DataFrame, gap_ms: int = GAP_MS) -> DataFrame:
    """Gap-based sessions as pure window functions (the DuckDB-checkable
    twin). One exchange on user_id serves both the lag and the running sum
    (same partitioning), then the groupBy reuses it — Catalyst plans a
    single Sort + Window over one Exchange."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts - lag(ts) > gap via native timestamp subtraction (works for both
    # TIMESTAMP and TIMESTAMP_NTZ parquet columns — no unix_* cast needed)
    gap_interval = F.expr(f"INTERVAL {int(gap_ms)} MILLISECONDS")
    flagged = events.select(
        "user_id", "ts", "value", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts") - F.lag("ts").over(w)) > gap_interval),
            F.lit(1)).otherwise(F.lit(0)).alias("new_sess"),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (sess.groupBy("user_id", "session_idx")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .withColumn("session_idx", F.col("session_idx").cast("long")))


SESSIONIZE_ORACLE_SQL = """
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM sess
    GROUP BY user_id, session_idx
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize_batch(events)


def _session_fold(state_row: tuple | None, events: pd.DataFrame,
                  gap_ms: int) -> tuple[list[tuple], tuple]:
    """Fold sorted events into (closed_sessions, open_session). Pure so the
    test can exercise the in-batch close path without a stream."""
    closed: list[tuple] = []
    cur = list(state_row) if state_row is not None else None
    ts_ms = (events["ts"].astype("int64") // 1_000_000).to_numpy()
    vals = events["value"].to_numpy()
    for t, v in zip(ts_ms, vals):
        t = int(t)
        if cur is None:
            cur = [t, t, 0, 0.0]
        elif t - cur[1] > gap_ms:
            closed.append(tuple(cur))
            cur = [t, t, 0, 0.0]
        elif t < cur[0] - gap_ms:
            # out-of-order within the watermark but more than gap BEFORE the
            # open session: the batch twin puts it in an earlier session —
            # emit it as its own closed session (residual divergence: a
            # still-later event bridging the two cannot retro-merge them;
            # bounded by watermark ≤ gap, the recommended configuration)
            closed.append((t, t, 1, float(v)))
            continue
        elif t < cur[0]:
            # within gap of the open session's first event: extend the
            # start backwards so the session matches the twin's MIN(ts)
            cur[0] = t
        cur[1] = max(cur[1], t)
        cur[2] += 1
        cur[3] += float(v)
    return closed, tuple(cur)


def _round_half_up(x: float, digits: int = 2) -> float:
    """Spark-compatible rounding: F.round is HALF_UP on the shortest decimal
    representation of the double (BigDecimal.valueOf), while Python's
    round() is banker's rounding — they differ on exact .xx5 values.

    Accumulation-order caveat: the streaming fold sums ``total_value`` in
    per-key event order, while the batch twin's F.sum adds in whatever
    partition order the shuffle delivers. Float addition is not
    associative, so on adversarial values whose session sum lands exactly
    on a .xx5 boundary the two HALF_UP roundings can differ in the last
    decimal even though both sides are individually correct. A
    stream-equals-batch parity check on arbitrary float inputs should
    therefore compare ``total_value`` with a 1-ulp pre-rounding tolerance
    rather than exact equality; the oracle-checked batch twin is immune
    (both engines sum with F.sum semantics there)."""
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _emit(user_id: int, sessions: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame({
        "user_id": pd.Series([user_id] * len(sessions), dtype="int64"),
        "session_start": pd.to_datetime([s[0] for s in sessions], unit="ms"),
        "session_end": pd.to_datetime([s[1] for s in sessions], unit="ms"),
        "n_events": pd.Series([s[2] for s in sessions], dtype="int64"),
        "total_value": pd.Series([_round_half_up(s[3]) for s in sessions],
                                 dtype="float64"),
    })


def sessionize_stream(events: DataFrame, gap_ms: int = GAP_MS,
                      watermark: str = GAP) -> DataFrame:
    """``applyInPandasWithState`` sessionization over a streaming events
    DataFrame (schema ⊇ ``ts TIMESTAMP, user_id LONG, value DOUBLE``)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold_sessions(key: tuple, pdfs: Iterator[pd.DataFrame],
                      state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # watermark passed end + gap: the open session is final
            if state.exists:
                yield _emit(user_id, [tuple(state.get)])
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        # contract requires only (ts, user_id, value); event_id joins the
        # sort key when present for a deterministic same-timestamp order
        sort_keys = (["ts", "event_id"] if "event_id" in batch.columns
                     else ["ts"])
        batch = batch.sort_values(sort_keys, kind="mergesort")
        prev = tuple(state.get) if state.exists else None
        closed, cur = _session_fold(prev, batch, gap_ms)
        state.update(cur)
        # timeout fires when the event-time watermark passes end + gap
        state.setTimeoutTimestamp(cur[1] + gap_ms)
        if closed:
            yield _emit(user_id, closed)

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fold_sessions,
                outputStructType=SESSION_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def run_sessionize_available_now(spark: SparkSession, input_dir: str,
                                 output_dir: str, schema: StructType,
                                 gap_ms: int = GAP_MS,
                                 checkpoint_dir: str | None = None,
                                 timeout_sec: int = 600) -> int:
    """Drain available event files through the stateful sessionizer,
    appending finalized sessions to parquet. Re-triggering after new files
    land resumes from the streaming checkpoint (state store included)."""
    from .availablenow import drain_available_now

    stream = spark.readStream.schema(schema).parquet(input_dir)
    return drain_available_now(
        sessionize_stream(stream, gap_ms), output_dir,
        lambda batch_df, _batch_id: {"sessions": batch_df},
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        label="sessionize drain")
