"""Robots-exclusion tier: per-host rule extraction and a crawl
compliance audit.

Reference parity note: the reference service (``/root/reference/app/
main.py``) converts uploads and never fetches, so it has no robots
surface. A crawler MUST have one: robots.txt is the only opt-out
mechanism a site controls, and a production pipeline both (a) parses
the rules it fetched and (b) audits the crawl log against them —
CC publishes exactly such compliance reports. The fixture corpus
carries one ``/robots.txt`` row per host (plain-text payload; the
extraction format gate correctly REJECTS them — robots is crawl
metadata, not corpus content — and this module is their consumer).

* ``q_robots_rules`` — (host, rule) Disallow prefixes plus the host's
  optional Crawl-delay: one decode + ``regexp_extract_all`` + explode.
* ``q_robots_compliance`` — join every fetched page's path against its
  host's Disallow prefixes: per-host fetch count, rule count,
  violation count and the first violating url. The rule table is tiny
  (hosts × rules) → broadcast hash join; the fetch log never shuffles.

Scale notes (10^12 pages): rules are ~10^8 hosts × a handful of rows —
broadcast-able after the one small ``groupBy(host)``; the compliance
pass is scan-projection + broadcast join + one map-side-combined host
aggregate. Prefix match is ``startswith`` (Spark) / ``starts_with``
(DuckDB) on the url path — same semantics, hash-identical output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .linkgraph import HOST_RE, all_pages_df, pages_path

# RFC 9309 §2.1: directive names are case-insensitive and whitespace
# around the colon is flexible — real robots.txt carries 'allow:/x',
# 'SITEMAP: …', ' Crawl-Delay : 5' (round-4 advice). The line anchor
# replaces the old capital-A trick: case-insensitively, "allow:" occurs
# INSIDE "Disallow:", so only a ^-anchored match keeps the two directives
# distinct. Both engines get the same patterns, applied to bodies whose
# line endings are normalized to \n first: in multiline mode Java also
# starts a line after a bare \r, RE2 only after \n.
DISALLOW_RE = "(?im)^[ \\t]*disallow[ \\t]*:[ \\t]*(\\S+)"
ALLOW_RE = "(?im)^[ \\t]*allow[ \\t]*:[ \\t]*(\\S+)"
DELAY_RE = "(?im)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+)"
SITEMAP_RE = "(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)"


def _body() -> Column:
    """The robots.txt text: latin-1 (ascii rules; never errors), with
    \\r\\n and bare \\r line endings rewritten to \\n."""
    return F.regexp_replace(F.decode("html", "ISO-8859-1"), "\\r\\n?", "\n")


def robots_rules(pages: DataFrame) -> DataFrame:
    """(host, rule, crawl_delay) — one exploded row per Disallow.

    ``explode_outer``, not ``explode``: a robots.txt carrying only a
    Crawl-delay (no Disallow) is common on the real web, and an inner
    explode would drop the host entirely — losing the delay the
    scheduler needs (round-3 review). Such hosts emit one row with
    ``rule IS NULL``."""
    body = _body()
    return (pages
            .filter(F.col("url").endswith("/robots.txt"))
            .select(
                F.regexp_extract("url", HOST_RE, 1).alias("host"),
                F.explode_outer(
                    F.regexp_extract_all(body, F.lit(DISALLOW_RE), 1))
                .alias("rule"),
                F.nullif(F.regexp_extract(body, DELAY_RE, 1), F.lit(""))
                .cast("bigint").alias("crawl_delay")))


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return robots_rules(all_pages_df(spark)).orderBy("host", "rule")


def q_robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-compliance report: fetched pages whose path falls
    under a Disallow prefix are violations the scheduler must fix."""
    rows = all_pages_df(spark)
    fetched = (rows
               .filter(~F.col("url").endswith("/robots.txt"))
               .select(
                   "url",
                   F.regexp_extract("url", HOST_RE, 1).alias("host"),
                   F.regexp_replace("url", "^https?://[^/]+", "")
                   .alias("path")))
    rules = robots_rules(rows).select("host", "rule")
    hits = (fetched.join(F.broadcast(rules), "host", "left")
            .withColumn("violation",
                        F.col("rule").isNotNull()
                        & F.expr("startswith(path, rule)")))
    return (hits.groupBy("host")
            .agg(F.countDistinct("url").cast("long").alias("n_fetched"),
                 F.countDistinct("rule").cast("long").alias("n_rules"),
                 F.countDistinct(F.when(F.col("violation"), F.col("url")))
                 .cast("long").alias("n_violations"),
                 F.min(F.when(F.col("violation"), F.col("url")))
                 .alias("first_violation"))
            .orderBy("host"))


def q_robots_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google longest-match rule precedence (the REP as standardized in
    RFC 9309 §2.2.2): for each fetched url take the matching Allow or
    Disallow rule with the LONGEST path; on a length tie Allow wins.
    ``q_robots_compliance`` is the strict any-Disallow audit — this
    query is what a production scheduler actually evaluates, and the
    fixture plants ``Allow: /de/page-0001`` carve-outs UNDER
    ``Disallow: /de/`` so the two verdicts genuinely diverge
    (``n_rescued`` counts fetches a Disallow matches but the more
    specific Allow permits).

    Plan shape: the directive table is hosts × a handful of rows →
    broadcast join against the fetch log (which does not shuffle for
    it); the per-url winner is one ``max(struct(len, is_allow))``
    aggregate — struct ordering encodes longest-then-Allow exactly —
    left-joined back to the fetch log on (host, url), a sort-merge join
    that shuffles both sides once; then one map-side-combined host
    rollup."""
    rows = all_pages_df(spark)
    robots = (rows.filter(F.col("url").endswith("/robots.txt"))
              .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                      _body().alias("body")))
    directives = robots.select(
        "host",
        F.explode(F.concat(
            F.transform(
                F.regexp_extract_all("body", F.lit(ALLOW_RE), 1),
                lambda r: F.struct(r.alias("rule"),
                                   F.lit(1).alias("is_allow"))),
            F.transform(
                F.regexp_extract_all("body", F.lit(DISALLOW_RE), 1),
                lambda r: F.struct(r.alias("rule"),
                                   F.lit(0).alias("is_allow"))),
        )).alias("d")).select("host", "d.rule", "d.is_allow")
    fetched = (rows.filter(~F.col("url").endswith("/robots.txt"))
               .select("url",
                       F.regexp_extract("url", HOST_RE, 1).alias("host"),
                       F.regexp_replace("url", "^https?://[^/]+", "")
                       .alias("path")))
    hits = (fetched.join(F.broadcast(directives), "host")
            .filter(F.expr("startswith(path, rule)")))
    best = (hits.groupBy("host", "url")
            .agg(F.max(F.struct(F.length("rule").alias("l"),
                                F.col("is_allow").alias("a"))).alias("m"),
                 F.max(F.when(F.col("is_allow") == 0, 1).otherwise(0))
                 .alias("any_dis")))
    verdicts = (fetched.join(best, ["host", "url"], "left")
                .select("host", "url",
                        F.coalesce(F.col("m.a") == 0, F.lit(False))
                        .alias("blocked"),
                        (F.coalesce(F.col("any_dis"), F.lit(0)) == 1)
                        .alias("dis_matched")))
    return (verdicts.groupBy("host")
            .agg(F.count("*").cast("long").alias("n_fetched"),
                 F.sum(F.when(F.col("blocked"), 1).otherwise(0))
                 .cast("long").alias("n_blocked"),
                 F.sum(F.when(F.col("dis_matched") & ~F.col("blocked"), 1)
                       .otherwise(0)).cast("long").alias("n_rescued"),
                 F.min(F.when(F.col("blocked"), F.col("url")))
                 .alias("first_blocked"))
            .orderBy("host"))


def q_sitemap_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host Sitemap: directive extraction — the frontier-seeding
    pointer robots.txt publishes (RFC 9309 §2.3 / sitemaps.org). The
    declared url is semi-checked against the crawl log, so the
    unfetched remainder is exactly the list a scheduler would enqueue
    next (since round 4 the fixture plants the declared sitemap.xml
    documents, so declaring hosts show ``already_fetched`` true and
    ``operators/sitemap.py`` consumes the bodies)."""
    rows = all_pages_df(spark)
    # ALL declared sitemaps, one row each (RFC 9309 / sitemaps.org allow
    # multiple Sitemap: lines); explode_outer keeps a NULL row for hosts
    # declaring none, so every host stays in the audit
    decl = (rows.filter(F.col("url").endswith("/robots.txt"))
            .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                    F.explode_outer(
                        F.regexp_extract_all(_body(), F.lit(SITEMAP_RE), 1))
                    .alias("sitemap_url")))
    crawled = rows.select(F.col("url").alias("sitemap_url")).distinct()
    # flag per (host, sitemap_url): with several declared sitemaps a
    # host may have fetched some but not others
    fetched_flag = (decl.filter(F.col("sitemap_url").isNotNull())
                    .join(crawled, "sitemap_url", "left_semi")
                    .withColumn("already_fetched", F.lit(True)))
    return (decl.join(fetched_flag, ["host", "sitemap_url"], "left")
            .select("host", "sitemap_url",
                    F.col("sitemap_url").isNotNull().alias("has_sitemap"),
                    F.coalesce("already_fetched", F.lit(False))
                    .alias("already_fetched"))
            .orderBy("host", "sitemap_url"))


def q_delay_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared Crawl-delay vs ACTUAL per-host fetch spacing — the
    politeness audit composed with the robots tier: per host, the
    minimum/mean gap between consecutive fetches (``warc_ts``, integer
    microseconds end to end — cross-engine exact, same discipline as
    ``operators/temporal.q_politeness_audit``) against the delay the
    host's robots.txt requested, and whether the crawl complied.

    Hosts that declare no delay report ``crawl_delay NULL`` and are
    vacuously compliant. EVERY fetched host appears in the audit: a
    host fetched exactly once has no gap rows (``min_gap_us``/
    ``mean_gap_s`` NULL) and is vacuously compliant — dropping it
    (the round-3 shape aggregated post-lag-filter) silently hid
    declared-delay hosts from the politeness report (round-3 advice).
    One keyed window + re-agg sharing a single host Exchange, then a
    broadcast join of the tiny per-host delay table — the fetch log
    never shuffles twice."""
    from pyspark.sql.window import Window

    rows = all_pages_df(spark)
    fetched = (rows
               .filter(~F.col("url").endswith("/robots.txt"))
               .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                       "url",
                       F.unix_micros(F.col("warc_ts").cast("timestamp"))
                       .alias("us")))
    w = Window.partitionBy("host").orderBy("us", "url")
    # keep the first-fetch row (gap NULL): count(*) = fetches, the
    # null-skipping min/count aggregates see only real gaps
    gaps = fetched.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
    agg = (gaps.groupBy("host")
           .agg(F.count("*").cast("long").alias("n_fetches"),
                F.min("gap_us").alias("min_gap_us"),
                F.round(F.sum("gap_us") / F.count("gap_us") / 1e6, 4)
                .alias("mean_gap_s")))
    delays = (robots_rules(rows)
              .groupBy("host")
              .agg(F.max("crawl_delay").alias("crawl_delay")))
    return (agg.join(F.broadcast(delays), "host", "left")
            .select("host", "n_fetches", "min_gap_us", "mean_gap_s",
                    "crawl_delay",
                    (F.col("crawl_delay").isNull()
                     | F.col("min_gap_us").isNull()
                     | (F.col("min_gap_us")
                        >= F.col("crawl_delay") * 1_000_000))
                    .alias("compliant"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# DuckDB oracles — identical regexes, identical prefix-match semantics.
# ---------------------------------------------------------------------------

# DuckDB has no latin-1 decode and its strict decode() errors on
# non-UTF-8 bytes, so the oracle reconstructs the ISO-8859-1 text the
# Spark side reads byte-for-byte: hex pairs → chr(codepoint). Every
# byte 0x01..0xFF maps to the identical U+0001..U+00FF codepoint, so a
# robots.txt carrying legacy-charset or binary bytes can never error
# the oracle (round-3 advice; the pattern matches headtags'
# hex-window parity idiom). Bodies are one tiny row per host — the
# per-byte list_transform is oracle-only cost.
_LATIN1_BODY = """array_to_string(list_transform(
                   range(1, CAST(octet_length(html) AS INT) + 1),
                   i -> chr(CAST(concat('0x', substr(hex(html),
                            2 * CAST(i AS INT) - 1, 2)) AS INT))), '')"""

# the same \r\n? -> \n normalization as the Spark side's _body()
_BODIES_CTE = f"""
        bodies AS (
          SELECT url, regexp_replace({_LATIN1_BODY}, '\\r\\n?', chr(10), 'g')
                 AS body
          FROM '__PAGES_PARQUET__'
          WHERE url LIKE '%/robots.txt')"""

# unnest of an empty list emits no row in DuckDB — wrap in a one-NULL
# list so a Disallow-free robots.txt keeps its host row (the Spark side
# is explode_outer; same semantics)
_RULES_CTE = f"""
        {_BODIES_CTE},
        rules AS (
          SELECT regexp_extract(url, '{HOST_RE}', 1) AS host,
                 unnest(CASE WHEN len(regexp_extract_all(body,
                             '{DISALLOW_RE}', 1)) = 0
                        THEN [CAST(NULL AS VARCHAR)]
                        ELSE regexp_extract_all(body,
                             '{DISALLOW_RE}', 1) END) AS rule,
                 CAST(nullif(regexp_extract(body,
                      '{DELAY_RE}', 1), '') AS BIGINT)
                   AS crawl_delay
          FROM bodies)"""

ROBOTS_ORACLES = {
    "robots_rules": f"""
        WITH {_RULES_CTE}
        SELECT host, rule, crawl_delay FROM rules
        ORDER BY host, rule
    """,
    "delay_compliance": f"""
        WITH {_RULES_CTE},
        delays AS (
          SELECT host, max(crawl_delay) AS crawl_delay
          FROM rules GROUP BY host),
        fetched AS (
          SELECT regexp_extract(url, '{HOST_RE}', 1) AS host, url,
                 epoch_us(warc_ts) AS us
          FROM '__PAGES_PARQUET__'
          WHERE url NOT LIKE '%/robots.txt'),
        gaps AS (
          SELECT host,
                 us - lag(us) OVER (PARTITION BY host
                                    ORDER BY us, url) AS gap_us
          FROM fetched),
        agg AS (
          SELECT host,
                 CAST(count(*) AS BIGINT) AS n_fetches,
                 min(gap_us) AS min_gap_us,
                 round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1e6,
                       4) AS mean_gap_s
          FROM gaps GROUP BY host)
        SELECT a.host, a.n_fetches, a.min_gap_us, a.mean_gap_s,
               d.crawl_delay,
               d.crawl_delay IS NULL OR a.min_gap_us IS NULL
                 OR a.min_gap_us >= d.crawl_delay * 1000000 AS compliant
        FROM agg a LEFT JOIN delays d ON a.host = d.host
        ORDER BY a.host
    """,
    "robots_precedence": f"""
        WITH {_BODIES_CTE},
        dirs AS (
          SELECT regexp_extract(url, '{HOST_RE}', 1) AS host,
                 unnest(regexp_extract_all(body, '{ALLOW_RE}', 1))
                   AS rule,
                 1 AS is_allow
          FROM bodies
          UNION ALL
          SELECT regexp_extract(url, '{HOST_RE}', 1),
                 unnest(regexp_extract_all(body, '{DISALLOW_RE}', 1)),
                 0
          FROM bodies),
        fetched AS (
          SELECT url,
                 regexp_extract(url, '{HOST_RE}', 1) AS host,
                 regexp_replace(url, '^https?://[^/]+', '') AS path
          FROM '__PAGES_PARQUET__'
          WHERE url NOT LIKE '%/robots.txt'),
        hits AS (
          SELECT f.host, f.url, d.rule, d.is_allow
          FROM fetched f JOIN dirs d
            ON f.host = d.host AND starts_with(f.path, d.rule)),
        best AS (
          SELECT host, url, is_allow, any_dis FROM (
            SELECT host, url, is_allow,
                   row_number() OVER (PARTITION BY host, url
                     ORDER BY length(rule) DESC, is_allow DESC) AS rn,
                   max(CASE WHEN is_allow = 0 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY host, url) AS any_dis
            FROM hits) WHERE rn = 1),
        verdicts AS (
          SELECT f.host, f.url,
                 coalesce(b.is_allow = 0, false) AS blocked,
                 coalesce(b.any_dis, 0) = 1 AS dis_matched
          FROM fetched f
          LEFT JOIN best b ON f.host = b.host AND f.url = b.url)
        SELECT host, CAST(count(*) AS BIGINT) AS n_fetched,
               CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_blocked,
               CAST(sum(CASE WHEN dis_matched AND NOT blocked
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued,
               min(CASE WHEN blocked THEN url END) AS first_blocked
        FROM verdicts GROUP BY host ORDER BY host
    """,
    "sitemap_directives": f"""
        WITH {_BODIES_CTE},
        decl AS (
          SELECT regexp_extract(url, '{HOST_RE}', 1) AS host,
                 unnest(CASE WHEN len(regexp_extract_all(body,
                             '{SITEMAP_RE}', 1)) = 0
                        THEN [NULL]
                        ELSE regexp_extract_all(body,
                             '{SITEMAP_RE}', 1) END) AS sitemap_url
          FROM bodies)
        SELECT host, sitemap_url,
               sitemap_url IS NOT NULL AS has_sitemap,
               CASE WHEN sitemap_url IS NOT NULL AND EXISTS (
                      SELECT 1 FROM '__PAGES_PARQUET__' p
                      WHERE p.url = decl.sitemap_url)
                    THEN true ELSE false END AS already_fetched
        FROM decl ORDER BY host, sitemap_url
    """,
    "robots_compliance": f"""
        WITH {_RULES_CTE},
        fetched AS (
          SELECT url,
                 regexp_extract(url, '{HOST_RE}', 1) AS host,
                 regexp_replace(url, '^https?://[^/]+', '') AS path
          FROM '__PAGES_PARQUET__'
          WHERE url NOT LIKE '%/robots.txt'),
        hits AS (
          SELECT f.host, f.url, r.rule,
                 r.rule IS NOT NULL AND starts_with(f.path, r.rule)
                   AS violation
          FROM fetched f LEFT JOIN rules r ON f.host = r.host)
        SELECT host,
               CAST(count(DISTINCT url) AS BIGINT) AS n_fetched,
               CAST(count(DISTINCT rule) AS BIGINT) AS n_rules,
               CAST(count(DISTINCT CASE WHEN violation THEN url END)
                    AS BIGINT) AS n_violations,
               min(CASE WHEN violation THEN url END) AS first_violation
        FROM hits
        GROUP BY host
        ORDER BY host
    """,
}


def oracle_sql_for_robots(repo_root: str) -> dict[str, str]:
    path = pages_path(repo_root)
    return {k: v.replace("__PAGES_PARQUET__", path)
            for k, v in ROBOTS_ORACLES.items()}
