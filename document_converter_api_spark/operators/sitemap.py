"""Sitemap tier: sitemaps.org urlset parsing, declared-vs-crawled
coverage, and lastmod-driven recrawl freshness.

Reference parity note: the reference service (``/root/reference/app/
main.py``) has no crawl scheduler — documents arrive by upload. A
crawl-scale pipeline gets its work list from exactly two places: the
link graph (``operators/linkgraph.py``) and the sitemaps hosts publish.
The robots tier already extracts the ``Sitemap:`` pointers
(``operators/robots.py::q_sitemap_directives``); this module consumes
the fetched ``sitemap.xml`` documents those pointers name (the fixture
corpus plants one per declaring host — the sniffer routes ``<?xml``
payloads to the crawl-metadata path, so they reach this tier, never the
extractor).

The three oracled queries:

* ``q_sitemap_urls`` — the parsed urlset: one row per ``<url>`` entry
  with loc, lastmod (nullable — optional per the schema), changefreq,
  priority. Parsing is the one-pass trick the WAT tier uses: capture
  whole single-line ``<url>…</url>`` blocks with ONE page-sized regex
  scan, then run the tiny per-field regexes on each short block.
* ``q_sitemap_coverage`` — per host: how much of the declared urlset
  the crawl already has (listed∩crawled), how many declared urls are
  NEW (frontier seeds), and how many crawled pages the sitemap does
  NOT list (orphans — the classic sitemap-vs-crawl audit).
* ``q_sitemap_freshness`` — per (host, loc) that WAS crawled: declared
  lastmod vs the capture's warc_ts; ``recrawl_due`` when the host says
  the page changed after we fetched it. This is the scheduler input
  that turns sitemaps into incremental recrawl at 10^12 scale —
  without it every page recrawls on a timer.

Scale notes:

* Sitemap documents are ~1 per host: 10^8 rows against 10^12 pages.
  The parse stage is a codegen'd projection over that SMALL population
  (suffix pushdown keeps the page scan pruned), and the explode fans
  out to ~|urlset| rows per host.
* Coverage/freshness join parsed locs against the crawl log keyed on
  full url with no join hint: auto-broadcast picks the strategy. At
  fixture size the join is a BroadcastHashJoin with no hash Exchange;
  at scale (the urlset side is 10^10+) it becomes a shuffle join in
  which both sides hash-partition once. The per-host aggregation
  partial-combines map-side.
* lastmod accepts both W3C Datetime forms sitemaps.org allows (full
  timestamp and date-only) via ``try_to_timestamp`` — a malformed value
  yields NULL even under Spark 4's default ANSI mode (never a task
  failure; ``to_timestamp``/``cast`` would raise), and NULL lastmod is
  "unknown", which never schedules a recrawl by itself. Blocks without
  a ``<loc>`` are schema-invalid and dropped at parse in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_converter_api_spark.operators.linkgraph import (
    HOST_RE,
    all_pages_df,
    pages_path,
)
from document_converter_api_spark.operators.robots import _LATIN1_BODY

URLBLOCK_RE = "<url>(.*?)</url>"
LASTMOD_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def parse_sitemaps(pages: DataFrame) -> DataFrame:
    """(host, loc, lastmod, changefreq, priority) — one row per
    ``<url>`` entry of every fetched sitemap.xml."""
    body = F.decode("html", "ISO-8859-1")
    blocks = (pages
              .filter(F.col("url").endswith("/sitemap.xml"))
              .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                      F.explode(
                          F.regexp_extract_all(body, F.lit(URLBLOCK_RE), 1))
                      .alias("block")))
    field = lambda tag: F.nullif(  # noqa: E731 — local one-liner
        F.regexp_extract("block", f"<{tag}>([^<]*)</{tag}>", 1), F.lit(""))
    lm = field("lastmod")
    return (blocks.select(
        "host",
        field("loc").alias("loc"),
        F.coalesce(F.try_to_timestamp(lm, F.lit(LASTMOD_FMT)),
                   F.try_to_timestamp(lm, F.lit("yyyy-MM-dd")))
        .alias("lastmod"),
        field("changefreq").alias("changefreq"),
        field("priority").try_cast("double").alias("priority"))
        .filter(F.col("loc").isNotNull()))


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (parse_sitemaps(all_pages_df(spark))
            .orderBy("host", "loc"))


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host declared-vs-crawled audit: listed+crawled, frontier
    seeds (declared but never fetched), orphans (crawled html the
    sitemap omits)."""
    pages = all_pages_df(spark)
    locs = parse_sitemaps(pages).select("host", "loc")
    # distinct: a real crawl log holds multiple captures per url (the
    # CDX revisit tier models exactly that) — coverage counts URLS
    crawled = (pages.filter(F.col("url").endswith(".html"))
               .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                       F.col("url").alias("loc"))
               .distinct())
    listed_crawled = locs.join(crawled, ["host", "loc"], "left_semi")
    to_discover = locs.join(crawled, ["host", "loc"], "left_anti")
    orphans = crawled.join(locs, ["host", "loc"], "left_anti") \
        .join(locs.select("host").distinct(), "host", "left_semi")
    n = lambda df, col: df.groupBy("host").agg(  # noqa: E731
        F.count("*").cast("long").alias(col))
    return (n(locs, "n_declared")
            .join(n(listed_crawled, "n_crawled"), "host", "left")
            .join(n(to_discover, "n_to_discover"), "host", "left")
            .join(n(orphans, "n_orphans"), "host", "left")
            .select("host",
                    "n_declared",
                    F.coalesce("n_crawled", F.lit(0)).alias("n_crawled"),
                    F.coalesce("n_to_discover", F.lit(0))
                    .alias("n_to_discover"),
                    F.coalesce("n_orphans", F.lit(0)).alias("n_orphans"))
            .orderBy("host"))


def q_sitemap_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per crawled, listed page: declared lastmod vs fetch time.
    ``recrawl_due`` = the host says it changed after we fetched it;
    NULL lastmod is unknown and never schedules by itself."""
    pages = all_pages_df(spark)
    locs = parse_sitemaps(pages).select("host", "loc", "lastmod")
    crawl = (pages.filter(F.col("url").endswith(".html"))
             .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                     F.col("url").alias("loc"),
                     F.col("warc_ts")))
    return (locs.join(crawl, ["host", "loc"])
            .select("host", "loc", "warc_ts", "lastmod",
                    F.coalesce(F.col("lastmod") > F.col("warc_ts"),
                               F.lit(False)).alias("recrawl_due"))
            .orderBy("host", "loc"))


_PARSED_CTE = f"""
  sm AS (
    SELECT regexp_extract(url, '{HOST_RE}', 1) AS host,
           {_LATIN1_BODY} AS body
    FROM '__PAGES_PARQUET__' WHERE url LIKE '%/sitemap.xml'),
  parsed AS (
    SELECT host, loc,
      coalesce(
        try_strptime(lm, '%Y-%m-%dT%H:%M:%SZ'),
        try_strptime(lm, '%Y-%m-%d')) AS lastmod,
      nullif(regexp_extract(block,
             '<changefreq>([^<]*)</changefreq>', 1), '') AS changefreq,
      TRY_CAST(nullif(regexp_extract(block,
             '<priority>([^<]*)</priority>', 1), '') AS DOUBLE)
        AS priority
    FROM (SELECT host, block,
            nullif(regexp_extract(block, '<loc>([^<]*)</loc>', 1), '')
              AS loc,
            nullif(regexp_extract(block,
                   '<lastmod>([^<]*)</lastmod>', 1), '') AS lm
          FROM (SELECT host,
                  unnest(regexp_extract_all(body, '<url>(.*?)</url>', 1))
                    AS block
                FROM sm))
    WHERE loc IS NOT NULL),
  crawled AS (
    SELECT regexp_extract(url, '{HOST_RE}', 1) AS host,
           url AS loc, warc_ts
    FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html')
"""

SITEMAP_ORACLES = {
    "sitemap_urls": f"""
        WITH {_PARSED_CTE}
        SELECT host, loc, lastmod, changefreq, priority
        FROM parsed ORDER BY host, loc
    """,
    "sitemap_coverage": f"""
        WITH {_PARSED_CTE},
        crawled_u AS (SELECT DISTINCT host, loc FROM crawled)
        SELECT p.host,
               CAST(count(*) AS BIGINT) AS n_declared,
               CAST(sum(CASE WHEN c.loc IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_crawled,
               CAST(sum(CASE WHEN c.loc IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_to_discover,
               (SELECT CAST(count(*) AS BIGINT) FROM crawled_u c2
                WHERE c2.host = p.host
                  AND NOT EXISTS (SELECT 1 FROM parsed p2
                                  WHERE p2.host = p.host
                                    AND p2.loc = c2.loc)) AS n_orphans
        FROM parsed p
        LEFT JOIN crawled_u c ON p.host = c.host AND p.loc = c.loc
        GROUP BY p.host ORDER BY p.host
    """,
    "sitemap_freshness": f"""
        WITH {_PARSED_CTE}
        SELECT p.host, p.loc, c.warc_ts, p.lastmod,
               coalesce(p.lastmod > c.warc_ts, false) AS recrawl_due
        FROM parsed p JOIN crawled c
          ON p.host = c.host AND p.loc = c.loc
        ORDER BY p.host, p.loc
    """,
}


def oracle_sql_for_sitemap(repo_root: str | None = None) -> dict[str, str]:
    path = pages_path(repo_root)
    return {k: v.replace("__PAGES_PARQUET__", path)
            for k, v in SITEMAP_ORACLES.items()}
