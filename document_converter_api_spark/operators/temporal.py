"""Temporal join operators: as-of join and bucketed interval (range) join.

Reference parity note: the reference service (``/root/reference/app/
main.py``) is a per-document converter and has no temporal operators;
these are the event-time joins a 100 TB crawl pipeline runs constantly —
"which crawl snapshot was live when this event happened" (as-of) and
"which events fall inside this window" (interval).  Spark has neither as
a built-in; both are re-expressed here as compositions of DataFrame ops
so Catalyst keeps planning them (no Python in the hot path at all).

Scale notes per operator:

* ``asof_join`` — the naive formulation (inequality theta-join then
  per-probe argmax) plans as BroadcastNestedLoopJoin and does |probe| x
  |build| work; at 10^12 rows it is a non-plan.  The scalable shape is
  the classic union trick: tag build rows 0 and probe rows 1, union,
  and take ``last(value, ignorenulls)`` over a per-key window ordered by
  ``(ts, tag)`` with a ROWS UNBOUNDED PRECEDING frame — the build row in
  effect "carries forward" to every later probe row.  ONE hash Exchange
  on the join key, one sort, zero row expansion, no
  BroadcastNestedLoopJoin; ties at equal ts resolve build-before-probe
  so the match predicate is the inclusive ``build.ts <= probe.ts`` ASOF
  convention.  The build side is first collapsed to one row per
  (key, ts) with ``max_by`` (ASOF semantics require unique right
  timestamps per key); that pre-aggregation is map-side combinable and
  shuffles on (key, ts), so ``q_asof_join`` plans two hash Exchanges in
  all.  Skewed keys hurt the window sort exactly like any keyed
  shuffle — the salting pre-pass in ``operators/skew.py`` composes if a
  key is hot.
* ``range_join`` — the naive interval join is again an inequality join
  (quadratic per key).  Because every window here has FIXED width W, a
  window [s, s+W) overlaps at most two width-W time buckets —
  ``floor(s/W)`` and ``floor(s/W)+1`` — so exploding each window into
  those (at most) two bucket rows turns the range join into an EQUI-join
  on (key, bucket) that Spark executes as a plain shuffled hash join,
  followed by the exact range filter.  Row expansion is bounded at 2x
  the (small) window side, never the event side.  Variable-width
  windows generalize by exploding ``sequence(floor(s/W), floor(e/W))``
  — cost proportional to span/W, still never quadratic.

The DuckDB twins intentionally use a DIFFERENT algorithm (native ``ASOF
JOIN`` and a plain inequality join) — agreement across two engines *and*
two algorithms is the point of the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scan import widen

# Fixed interval width for ``range_join``: 6 hours, in microseconds.
# (Sized so the sf0.01 fixture yields hundreds of matched windows — a
# 10-minute width matched only 4, too thin to exercise the oracle.)
WINDOW_US = 21600 * 1_000_000


# ---------------------------------------------------------------------------
# As-of join (probe: clicks, build: purchases)
# ---------------------------------------------------------------------------

def asof_join(probe: DataFrame, build: DataFrame, key: str = "user_id",
              ts: str = "ts") -> DataFrame:
    """Match each probe row to the build row with the greatest ``ts`` at
    or before the probe's ``ts`` for the same ``key`` (inclusive ASOF
    backward join).  ``build`` must carry ``b_ts``/``b_value`` payload
    columns; probes with no preceding build row are dropped (inner
    semantics).  Single hash Exchange on ``key``."""
    pb = probe.select(
        "event_id", key, ts,
        F.lit(1).alias("is_probe"),
        F.lit(None).cast(dict(build.dtypes)["b_ts"]).alias("b_ts"),
        F.lit(None).cast("double").alias("b_value"))
    bd = build.select(
        F.lit(None).cast("long").alias("event_id"), key, ts,
        F.lit(0).alias("is_probe"), "b_ts", "b_value")
    # ROWS frame + (ts, is_probe) order: at equal ts the build row sorts
    # first, so `last` sees it — the inclusive `build.ts <= probe.ts`.
    w = (Window.partitionBy(key)
         .orderBy(F.col(ts).asc(), F.col("is_probe").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (pb.unionByName(bd)
            .withColumn("m_ts", F.last("b_ts", ignorenulls=True).over(w))
            .withColumn("m_value", F.last("b_value", ignorenulls=True).over(w))
            .filter((F.col("is_probe") == 1) & F.col("m_ts").isNotNull()))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click event, the user's most recent purchase at or
    before it: purchase ts, purchase value, and the exact microsecond
    gap.  The build side is collapsed to one row per (user, ts) with
    ``max_by(value, event_id)`` first — ASOF needs unique right
    timestamps per key, and the pre-agg is map-side combinable."""
    ev = widen(spark.read.parquet(f"{sf_dir}/events.parquet")
               .select("event_id", "user_id", "ts", "event_type", "value"))
    probe = (ev.filter(F.col("event_type") == "click")
             .select("event_id", "user_id", "ts"))
    build = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", F.col("ts").alias("b_ts"))
             .agg(F.max_by("value", "event_id").alias("b_value"))
             .select("user_id", F.col("b_ts").alias("ts"),
                     F.col("b_ts").alias("b_ts"), "b_value"))
    return (asof_join(probe, build)
            .select("event_id", "user_id", "ts",
                    F.col("m_ts").alias("purchase_ts"),
                    F.round("m_value", 2).alias("purchase_value"),
                    (F.unix_micros(F.col("ts").cast("timestamp"))
                     - F.unix_micros(F.col("m_ts").cast("timestamp")))
                    .alias("gap_us"))
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Bucketed interval join (fixed-width windows -> equi-join)
# ---------------------------------------------------------------------------

def _bucket(col):
    # The parquet ts is TIMESTAMP_NTZ; the session-tz cast shifts probe
    # and window micros by the SAME constant, so bucket adjacency and the
    # range predicate are offset-invariant.
    return F.floor(F.unix_micros(col.cast("timestamp")) / F.lit(WINDOW_US))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count each user's clicks inside the 6-hour half-open window
    ``[purchase.ts, purchase.ts + 6h)`` opened by every purchase.

    Plan: each window explodes into its <=2 covering time buckets, the
    join is a plain equi-join on (user_id, bucket) — never an
    inequality join — and the exact half-open range predicate filters
    after the match.  A click can match a given window through exactly
    one bucket, so no dedup is needed.  Windows with zero clicks drop
    out (inner semantics)."""
    ev = widen(spark.read.parquet(f"{sf_dir}/events.parquet")
               .select("event_id", "user_id", "ts", "event_type"))
    wins = (ev.filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("window_id"), "user_id",
                    F.col("ts").alias("w_start"))
            .withColumn("bkt", F.explode(F.array(
                _bucket(F.col("w_start")),
                _bucket(F.col("w_start")) + 1))))
    clk = (ev.filter(F.col("event_type") == "click")
           .select(F.col("event_id").alias("click_id"), "user_id", "ts")
           .withColumn("bkt", _bucket(F.col("ts"))))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ws = F.unix_micros(F.col("w_start").cast("timestamp"))
    return (wins.join(clk, ["user_id", "bkt"])
            .filter((us >= ws) & (us < ws + F.lit(WINDOW_US)))
            .groupBy("window_id", "user_id", "w_start")
            .agg(F.count("*").alias("n_clicks"),
                 F.min("click_id").alias("first_click"),
                 F.max("click_id").alias("last_click"))
            .orderBy("window_id"))


# ---------------------------------------------------------------------------
# Variable-width interval join (sequence bucket explode)
# ---------------------------------------------------------------------------

# Per-window width: 1..12 hours derived from the window's user — widths
# vary row to row, which is exactly what the fixed-width trick can't do.
VW_HOUR_US = 3600 * 1_000_000


def q_range_join_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalization ``q_range_join``'s docstring promises: windows
    of VARYING width ``[ts, ts + (1 + user_id % 12) hours)`` still join
    clicks by plain EQUI-join — each window explodes into
    ``sequence(floor(s/W), floor(e/W))`` covering base buckets (W = the
    fixed-width operator's 6 h), cost proportional to span/W (≤ 3 rows
    here), never quadratic, and never an inequality/nested-loop plan.
    A click matches a window through exactly one bucket (its own), so no
    dedup is needed; the exact half-open range filter runs post-match."""
    ev = widen(spark.read.parquet(f"{sf_dir}/events.parquet")
               .select("event_id", "user_id", "ts", "event_type"))
    width_us = ((F.col("user_id") % 12 + 1) * F.lit(VW_HOUR_US))
    s_us = F.unix_micros(F.col("w_start").cast("timestamp"))
    wins = (ev.filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("window_id"), "user_id",
                    F.col("ts").alias("w_start"))
            .withColumn("w_us", width_us)
            .withColumn("bkt", F.explode(F.sequence(
                F.floor(s_us / F.lit(WINDOW_US)),
                F.floor((s_us + F.col("w_us") - 1) / F.lit(WINDOW_US))))))
    clk = (ev.filter(F.col("event_type") == "click")
           .select(F.col("event_id").alias("click_id"), "user_id", "ts")
           .withColumn("bkt", _bucket(F.col("ts"))))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ws = F.unix_micros(F.col("w_start").cast("timestamp"))
    return (wins.join(clk, ["user_id", "bkt"])
            .filter((us >= ws) & (us < ws + F.col("w_us")))
            .groupBy("window_id", "user_id", "w_start", "w_us")
            .agg(F.count("*").alias("n_clicks"),
                 F.min("click_id").alias("first_click"),
                 F.max("click_id").alias("last_click"))
            .select("window_id", "user_id",
                    (F.col("w_us") / VW_HOUR_US).cast("long")
                    .alias("width_hours"),
                    "n_clicks", "first_click", "last_click")
            .orderBy("window_id"))


# ---------------------------------------------------------------------------
# Crawl-politeness audit (per-host fetch-gap analysis)
# ---------------------------------------------------------------------------

MIN_DELAY_US = 120 * 1_000_000   # polite crawl delay: 2 minutes


def q_politeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch-spacing report over the event log (``user_id``
    stands in for the host): fetch count, minimum and mean gap between
    consecutive fetches, and how many gaps violate the 2-minute crawl
    delay.

    Plan: one hash Exchange on the host key, a per-host ``lag`` window
    ordered by ``(ts, event_id)`` (the event_id tiebreak makes the gap
    sequence deterministic under equal timestamps in BOTH engines), then
    a map-side-combinable re-aggregation on the same key — the window
    and the groupBy share the partitioning, so Catalyst plans a single
    shuffle. Gaps are integer MICROSECONDS end to end (no float until
    the final mean), so cross-engine parity is exact by construction.
    A host hot enough to skew the window sort is exactly the host the
    ``host_cap_sample`` / salting pre-passes exist for."""
    ev = (widen(spark.read.parquet(f"{sf_dir}/events.parquet"))
          .select(F.col("user_id").alias("host"), "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("us")))
    w = Window.partitionBy("host").orderBy("us", "event_id")
    gaps = (ev.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
            .filter(F.col("gap_us").isNotNull()))
    return (gaps.groupBy("host")
            .agg((F.count("*") + 1).alias("n_fetches"),
                 F.min("gap_us").alias("min_gap_us"),
                 F.round(F.sum("gap_us") / F.count("*") / 1e6, 4)
                 .alias("mean_gap_s"),
                 F.sum((F.col("gap_us") < MIN_DELAY_US).cast("long"))
                 .alias("n_violations"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# DuckDB twins — different algorithms on purpose (native ASOF JOIN /
# plain inequality join); identical constants.
# ---------------------------------------------------------------------------

TEMPORAL_ORACLES = {
    "range_join_variable": f"""
        WITH wins AS (
          SELECT event_id AS window_id, user_id,
                 ts AS w_start,
                 (user_id % 12 + 1) * {VW_HOUR_US} AS w_us
          FROM events WHERE event_type = 'purchase'),
        clk AS (
          SELECT event_id AS click_id, user_id, ts FROM events
          WHERE event_type = 'click')
        SELECT w.window_id, w.user_id,
               CAST(w.w_us / {VW_HOUR_US} AS BIGINT) AS width_hours,
               count(*) AS n_clicks,
               min(c.click_id) AS first_click,
               max(c.click_id) AS last_click
        FROM wins w JOIN clk c
          ON w.user_id = c.user_id
         AND epoch_us(c.ts) >= epoch_us(w.w_start)
         AND epoch_us(c.ts) < epoch_us(w.w_start) + w.w_us
        GROUP BY w.window_id, w.user_id, w.w_us
        ORDER BY w.window_id
    """,
    "politeness_audit": f"""
        WITH ev AS (
          SELECT user_id AS host, event_id, epoch_us(ts) AS us
          FROM events),
        gaps AS (
          SELECT host,
                 us - lag(us) OVER (PARTITION BY host
                                    ORDER BY us, event_id) AS gap_us
          FROM ev)
        SELECT host,
               count(*) + 1 AS n_fetches,
               min(gap_us) AS min_gap_us,
               round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1e6, 4)
                   AS mean_gap_s,
               CAST(sum(CASE WHEN gap_us < {MIN_DELAY_US} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY host ORDER BY host
    """,
    "asof_join": """
        WITH probe AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
        build AS (
          SELECT user_id, ts, arg_max(value, event_id) AS value
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, ts)
        SELECT p.event_id, p.user_id, p.ts,
               b.ts AS purchase_ts,
               round(b.value, 2) AS purchase_value,
               date_diff('microsecond', b.ts, p.ts) AS gap_us
        FROM probe p ASOF JOIN build b
          ON p.user_id = b.user_id AND p.ts >= b.ts
        ORDER BY p.event_id
    """,
    "range_join": """
        WITH wins AS (
          SELECT event_id AS window_id, user_id, ts AS w_start
          FROM events WHERE event_type = 'purchase'),
        clk AS (
          SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click')
        SELECT w.window_id, w.user_id, w.w_start,
               count(*) AS n_clicks,
               min(c.click_id) AS first_click,
               max(c.click_id) AS last_click
        FROM wins w JOIN clk c
          ON c.user_id = w.user_id
         AND c.ts >= w.w_start
         AND c.ts < w.w_start + INTERVAL 6 HOUR
        GROUP BY w.window_id, w.user_id, w.w_start
        ORDER BY window_id
    """,
}
