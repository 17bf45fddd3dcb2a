"""Relational operator queries over the driver testdata (SURVEY.md §2.2-2.8).

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; each has an
ANSI-SQL twin in ``__spark_entry__.oracle_sql()`` that DuckDB runs on the
same parquet — the driver's correctness gate. Column aliases MUST match the
SQL twins exactly (the compare hashes values under sorted column names).

These queries restate the reference's read-side endpoints (SURVEY.md §3.3)
over the ``events`` table (events ≙ jobs_store rows) and the reference's
string/chunk helpers over ``documents.text``. TPC-H-style joins/aggregations
are included to pin shuffle-side correctness (broadcast vs sort-merge).

Determinism rules for oracle parity: every ORDER BY carries a unique
tie-break key; double aggregates are rounded; timestamps are compared as
epoch seconds or formatted strings (session TZ set to UTC inside each query
that formats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expressions import (
    chunks_if_large_expr,
    download_name_expr,
    estimated_minutes_expr,
    filename_stem_expr,
    iso_timestamp_expr,
    markdown_to_gdocs_expr,
    markdown_to_plain_expr,
    mb_expr,
    preview_expr,
    processing_seconds_expr,
    sanitize_filename_expr,
    url_extension_expr,
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# A1/A2 — aggregation queries (≙ GET /system/stats, app/main.py:876-903)
# ---------------------------------------------------------------------------

def q_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: count-by-status → count-by-event_type; hash aggregate with
    map-side partial combine (no extra shuffle beyond the groupBy)."""
    return (_read(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .orderBy("event_type"))


def q_stats_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: single-pass conditional aggregation (sum(when(...)) — one scan,
    no per-status re-scan like the reference's Python loop)."""
    ev = _read(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# P1/P2 + O1/O2 — filter/project/sort/limit (≙ GET /jobs, app/main.py:829-862)
# ---------------------------------------------------------------------------

def q_jobs_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 status filter + P2 projection + O1 sort + O2 limit. Catalyst plans
    TakeOrderedAndProject — top-k without a total sort."""
    ev = _read(spark, sf_dir, "events")
    return (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts",
                    F.round("value", 2).alias("value"))
            .orderBy(F.desc("ts"), F.asc("event_id"))
            .limit(50))


def q_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 retention predicate (app/main.py:312): rows older than 24h before
    the max ts (max-ts as 'now' for cross-engine determinism)."""
    ev = _read(spark, sf_dir, "events")
    cutoff = ev.agg(F.max("ts").alias("mx"))
    return (ev.crossJoin(F.broadcast(cutoff))
            .filter(F.col("ts") < F.col("mx") - F.expr("INTERVAL 24 HOURS"))
            .agg(F.count("*").alias("n_expired"),
                 F.count_distinct("user_id").alias("n_users")))


# ---------------------------------------------------------------------------
# J1/J3 — joins (≙ point lookup / resume anti-join)
# ---------------------------------------------------------------------------

def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 ≙ jobs_store[job_id] (app/main.py:604,759,795): broadcast hash
    join against a tiny key set — no shuffle of the big side."""
    docs = _read(spark, sf_dir, "documents")
    keys = spark.range(0, 50).select((F.col("id") * 10).alias("doc_id"))
    return (docs.join(F.broadcast(keys), "doc_id", "inner")
            .select("doc_id", "lang", "source", "n_chars")
            .orderBy("doc_id"))


def q_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 resume anti-join: docs whose doc_id is NOT in the 'completed' set
    (left_anti — the checkpoint-resume plan shape)."""
    docs = _read(spark, sf_dir, "documents")
    done = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return (docs.join(done, "doc_id", "left_anti")
            .agg(F.count("*").alias("n_pending"),
                 F.sum("n_chars").alias("chars_pending")))


def q_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-style 3-way join + agg: revenue per nation for open orders.
    customer/nation broadcast-able dims; no join hint, so auto-broadcast
    picks the lineitem-orders strategy (a sort-merge join once orders
    outgrows the broadcast threshold, a broadcast at the test scale
    factors)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .filter(F.col("o_orderstatus") == "O")
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy("nation"))


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (public benchmark query) on lineitem."""
    li = _read(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


# ---------------------------------------------------------------------------
# Window / top-k per group (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over user partitions: latest 3 events per user (the
    per-group variant of the /jobs sort-limit)."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .filter(F.col("user_id") < 100)
            .select("user_id", "event_id", "rn")
            .orderBy("user_id", "rn", "event_id"))


# ---------------------------------------------------------------------------
# F-layer expression queries over documents.text
# ---------------------------------------------------------------------------

def q_plain_text_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 markdown-strip regex chain (app/main.py:262-269) vectorized over
    documents.text; returns a prefix so the compare payload stays small."""
    docs = _read(spark, sf_dir, "documents")
    return (docs.select(
        "doc_id",
        F.substring(markdown_to_plain_expr(F.col("text")), 1, 200).alias("plain_prefix"),
        F.length(markdown_to_plain_expr(F.col("text"))).alias("plain_len"))
        .orderBy("doc_id"))


def q_gdocs_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 literal-replace chain (app/main.py:270-277)."""
    docs = _read(spark, sf_dir, "documents")
    return (docs.select(
        "doc_id",
        F.substring(markdown_to_gdocs_expr(F.col("text")), 1, 200).alias("gdocs_prefix"),
        F.length(markdown_to_gdocs_expr(F.col("text"))).alias("gdocs_len"))
        .orderBy("doc_id"))


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+P6: line-chunking as higher-order array functions (no UDF, no
    explode shuffle); chunk gate at >200 chars with 3-line chunks so the
    small fixture rows actually chunk."""
    docs = _read(spark, sf_dir, "documents")
    from ..functions.expressions import chunk_text_expr
    chunks = F.when(F.length("text") > 200, chunk_text_expr(F.col("text"), 3)
                    ).otherwise(F.array(F.col("text")))
    return (docs.select(
        "doc_id",
        F.size(chunks).alias("total_chunks"),
        F.length(F.element_at(chunks, 1)).alias("first_chunk_len"),
        F.length(F.element_at(chunks, -1)).alias("last_chunk_len"))
        .orderBy("doc_id"))


def q_sanitize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 sanitize_filename (app/main.py:252-258) over synthetic filenames
    derived from documents.source."""
    docs = _read(spark, sf_dir, "documents")
    fname = F.concat(F.col("source"), F.lit(" doc ("), F.col("doc_id"),
                     F.lit(").txt"))
    return (docs.select("doc_id",
                        sanitize_filename_expr(fname).alias("safe_name"))
            .orderBy("doc_id").limit(100))


def q_url_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 extension extraction + F9 estimated minutes + F12 MB rounding."""
    docs = _read(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://x.example/"), F.col("source"),
                   F.lit("/f"), F.col("doc_id"),
                   F.when(F.col("doc_id") % 2 == 0, F.lit(".pdf"))
                   .otherwise(F.lit(".docx")))
    return (docs.select(
        "doc_id",
        url_extension_expr(url).alias("ext"),
        estimated_minutes_expr(F.col("n_chars") * 1024).alias("est_minutes"),
        mb_expr(F.col("n_chars") * 1024).alias("mb"))
        .orderBy("doc_id").limit(200))


def q_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 500-char preview with ellipsis (app/main.py:547)."""
    docs = _read(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        preview_expr(F.col("text"), 100).alias("preview"))
            .orderBy("doc_id").limit(200))


def q_iso_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 ISO serialization + F11 processing seconds (ts pairs via lead)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("next_ts", F.lead("ts").over(w))
            .filter(F.col("next_ts").isNotNull())
            .select("event_id",
                    iso_timestamp_expr(F.col("ts")).alias("ts_iso"),
                    F.round(processing_seconds_expr(
                        F.col("ts").cast("timestamp"),
                        F.col("next_ts").cast("timestamp")), 3)
                    .alias("gap_seconds"))
            .orderBy("event_id").limit(500))


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 JSON access: get_json_object over events.props (the JSONB →
    get_json_object mapping from SURVEY.md §1.1)."""
    ev = _read(spark, sf_dir, "events")
    return (ev.select(F.get_json_object("props", "$.k").alias("k_bucket"))
            .filter(F.col("k_bucket").isNotNull())
            .groupBy("k_bucket")
            .agg(F.count("*").alias("n"))
            .orderBy("k_bucket"))


def q_download_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 stem + F7 download-name compose + F8 ext-for-format
    (app/main.py:617-619, 345-347) over synthetic upload filenames."""
    docs = _read(spark, sf_dir, "documents")
    fname = F.concat(F.lit("uploads/"), F.col("source"), F.lit("/report_"),
                     F.col("doc_id"), F.lit(".docx"))
    fmt = F.when(F.col("doc_id") % 2 == 0, F.lit("markdown")).otherwise(F.lit("text"))
    return (docs.select(
        "doc_id",
        filename_stem_expr(fname).alias("stem"),
        download_name_expr(fname, fmt).alias("download_name"))
        .orderBy("doc_id").limit(200))


def q_result_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 JSON result assembly (app/main.py:401-418): to_json(struct(...))
    — columnar until the API edge, serialize only in the projection."""
    docs = _read(spark, sf_dir, "documents")
    return (docs.select(
        "doc_id",
        F.to_json(F.struct(
            F.col("doc_id").alias("id"),
            F.col("lang").alias("lang"),
            F.length("text").cast("long").alias("content_length"),
            F.col("source").alias("source"))).alias("result_json"))
        .orderBy("doc_id").limit(200))


def q_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (SURVEY.md §2.4 'trivially available' tier):
    doc counts + char sums by (source, lang) with subtotals and a grand
    total — one shuffle, Expand handles the grouping sets."""
    docs = _read(spark, sf_dir, "documents")
    return (docs.rollup("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .orderBy(F.asc_nulls_first("source"), F.asc_nulls_first("lang")))


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: exact distinct users per event type (the
    approx_count_distinct scale path is benchmarked, not oracle'd — HLL
    sketches differ across engines)."""
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n_users"),
                 F.count("*").alias("n_events"))
            .orderBy("event_type"))


def q_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (SURVEY.md §2.7): users who viewed but never purchased —
    EXCEPT (distinct) compiles to a left-anti hash join."""
    ev = _read(spark, sf_dir, "events")
    viewed = ev.filter(F.col("event_type") == "view").select("user_id")
    bought = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return (viewed.subtract(bought)
            .agg(F.count("*").alias("n_view_only"),
                 F.sum("user_id").alias("sum_ids")))


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k heavy-hitter orders by revenue: aggregation then global top-10
    via TakeOrderedAndProject (no total sort at scale)."""
    li = _read(spark, sf_dir, "lineitem")
    return (li.groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way join: revenue per region for open orders,
    supplier and customer in the same nation. region/nation/supplier are
    broadcast-able dims; the lineitem⋈orders fact join shuffles once when
    orders is over the broadcast threshold (auto-broadcast takes it at the
    test scale factors)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .filter(cust.c_nationkey == supp.s_nationkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .filter(F.col("o_orderstatus") == "O")
            .groupBy(F.col("r_name").alias("region"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy("region"))


def q_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: revenue share of ECONOMY parts per brand — a
    conditional aggregate over a broadcast part⋈lineitem join."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(F.round(F.sum(F.when(F.col("p_type") == "ECONOMY", rev)
                               .otherwise(F.lit(0.0))), 2).alias("economy_rev"),
                 F.round(F.sum(rev), 2).alias("total_rev"),
                 F.count("*").alias("n_items"))
            .withColumn("economy_share",
                        F.round(F.col("economy_rev") / F.col("total_rev"), 4))
            .orderBy("brand"))


def q_element_at_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 chunk indexing with bounds semantics (app/main.py:811-816):
    element_at returns NULL beyond bounds instead of a 400 error."""
    docs = _read(spark, sf_dir, "documents")
    from ..functions.expressions import chunk_text_expr
    chunks = chunk_text_expr(F.col("text"), 2)
    # try_element_at: NULL past the end (Spark 4 ANSI element_at throws),
    # mirroring the reference's bounds check turned into a NULL column.
    return (docs.select(
        "doc_id",
        F.length(F.try_element_at(chunks, F.lit(2))).alias("second_chunk_len"),
        F.try_element_at(chunks, F.lit(99)).isNull().alias("oob_is_null"))
        .orderBy("doc_id").limit(200))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: unshipped-revenue per order for one market segment.
    The filtered customer dim broadcasts; lineitem⋈orders is the single
    fact shuffle once orders is over the broadcast threshold (auto-broadcast
    takes it at the test scale factors); the final top-10 is
    TakeOrderedAndProject, not a total sort."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-01-01"))
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-01-01"))
    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                     F.asc("l_orderkey"))
            .limit(10))


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total quantity exceeds a threshold
    (pre-aggregate lineitem, HAVING-filter, then join back). The HAVING
    shrinks the fact side to a handful of keys before any join — at 100 TB
    the qty aggregate reuses lineitem's shuffle and the surviving keys
    broadcast to orders."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    qty = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 1).alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    return (orders.join(qty, orders.o_orderkey == qty.l_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(10))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per event_type (the
    latency-quantile shape every pipeline dashboard needs). Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the exact
    linear-interpolation definition, so this is value-hash comparable —
    unlike ``percentile_approx`` (GK sketch) whose estimates are
    engine-specific. At 100 TB the exact form needs a per-group sort;
    switch to percentile_approx when estimates suffice."""
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
                 F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
                 F.count("*").alias("n"))
            .orderBy("event_type"))


def q_webhook_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 webhook payload assembly as an oracle-checked query: the exact
    ``to_json`` string the push sink POSTs (sources/webhook.py), built
    over a deterministic url/error derivation from the documents table.
    Every byte of the payload — field order, null-field omission for the
    completed/failed variants (app/main.py:426-434 vs :445-452), md5
    job_id, download name, ISO timestamp — is value-hash-compared against
    a DuckDB string-template twin."""
    from ..sources.webhook import webhook_payload_expr

    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc-"), F.col("doc_id").cast("string"),
                 F.lit(".html")).alias("url"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("encrypted")).alias("error"),
        F.lit("2025-06-01 12:00:00").cast("timestamp").alias("completed_at"))
    return (base.select(
                "doc_id",
                webhook_payload_expr(F.col("url"), F.col("error"),
                                     F.col("completed_at")).alias("payload"))
            .orderBy("doc_id"))


WEBHOOK_PAYLOADS_ORACLE = """
    WITH base AS (
      SELECT doc_id,
             'https://' || source || '.example.com/doc-'
               || CAST(doc_id AS STRING) || '.html' AS url,
             CASE WHEN doc_id % 7 = 0 THEN 'encrypted' END AS error
      FROM documents),
    j AS (
      SELECT doc_id, md5(url) AS job_id,
             'doc-' || CAST(doc_id AS STRING) || '_converted.md' AS fname,
             error
      FROM base)
    SELECT doc_id,
           CASE WHEN error IS NULL THEN
             '{"job_id":"' || job_id || '","status":"completed",'
             || '"download_url":"/download/' || job_id || '",'
             || '"output_format":"markdown","filename":"' || fname || '",'
             || '"completed_at":"2025-06-01T12:00:00.000000"}'
           ELSE
             '{"job_id":"' || job_id || '","status":"failed",'
             || '"filename":"' || fname || '","error":"' || error || '",'
             || '"completed_at":"2025-06-01T12:00:00.000000"}'
           END AS payload
    FROM j ORDER BY doc_id
"""
