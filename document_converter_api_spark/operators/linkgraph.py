"""WAT-tier link extraction: outlinks, the host link graph, anchor text,
and PageRank over the EXTRACTED graph.

Reference parity note: the reference service (``/root/reference/app/
main.py``) converts documents one at a time and never looks at hyperlink
structure. A webtext pipeline at crawl scale does: Common Crawl publishes
WAT files (per-page outlink metadata) and a host/domain ranking computed
from exactly this extracted graph. ``operators/graph.py`` already proves
the PageRank ITERATION against the oracle but derives its edges from an
arithmetic scheme because the ``documents`` table carries no hyperlinks
(see its module docstring); this module closes that gap — links are
extracted from the real fixture HTML payloads, so the oracle checks the
extract → resolve → aggregate → rank chain end to end.

Extraction is a single codegen'd projection (``regexp_extract_all`` over
the UTF-8-decoded payload) — no Python, no explode-before-filter:

* ``q_link_extract`` — one row per (page, outlink) with the resolved
  target host. Relative hrefs resolve to the page's own host (RFC 3986
  same-authority resolution; the fixture corpus has no ``../`` forms).
* ``q_host_linkgraph`` — the aggregated host→host edge list with link
  and distinct-page counts; this is the WAT reduction Common Crawl ships
  as its domain graph.
* ``q_anchor_stats`` — anchor-text term counts per target host (the
  classic anchor-text relevance signal). The href and anchor captures
  come from TWO group extractions of the SAME pattern, so positional
  ``arrays_zip`` is sound (identical match sequence).
* ``q_link_pagerank`` — 5 unrolled PageRank rounds over the distinct
  extracted host edges (self-loops dropped, as in production host-graph
  ranking). ``ref.example`` is a genuine dangling sink: its rank mass
  evaporates rather than being redistributed (the unredistributed-
  dangling PageRank variant); the oracle runs the identical recurrence
  so the semantics are pinned, and the docstring is the contract.

Scale notes (10^12 pages):

* The regex scan is per-row, JVM-side, whole-stage-codegen'd — the
  extraction stage is embarrassingly parallel and shuffle-free.
* ``explode`` fans out ~50 links/page BEFORE the aggregation, but the
  ``groupBy(src_host, dst_host)`` partial-aggregates map-side, so the
  shuffle carries one partial row per (task, edge), not per link. Hub
  hosts with 10^9 in-links arrive pre-combined — the same defense the
  salted host agg (``operators/skew.py``) uses; AQE skew-join handles
  any residual hot reducer.
* The host graph output is ~10^8 rows from 10^12 pages — a 10^4×
  reduction; everything downstream (PageRank) runs on the small table
  and broadcasts into joins exactly as ``q_domain_pagerank`` documents.
* ``countDistinct(url)`` inside the edge agg is the one expensive part
  (exact distinct per edge). At web scale swap it for ``approx_count_
  distinct`` (HLL, mergeable, still one shuffle) — kept exact here so
  the oracle can check it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SMOKE = os.path.join("fixtures", "data", "pages_smoke.parquet")

# one pattern, two capture groups — href and anchor text.
# Outlinks are ANCHOR elements only: head-level href carriers
# (<link rel="canonical">) are crawl metadata, not edges — they belong
# to operators/headtags.py, and counting them here would wrongly feed
# self-referential canonical targets into the host graph.
HREF_RE = '<a href="([^"]+)"'
ANCHOR_RE = '<a href="([^"]+)"[^>]*>([^<]*)</a>'
HOST_RE = "^https?://([^/]+)"
SCHEMELESS_HOST_RE = "^//([^/]+)"

LPR_ITERS = 5
LPR_DAMPING = 0.85
LPR_TELEPORT = 0.15


def pages_path(repo_root: str | None = None) -> str:
    root = repo_root or os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(root, PAGES_SMOKE)


def all_pages_df(spark: SparkSession) -> DataFrame:
    """EVERY fetched row of the pages corpus (html, legacy .htm, pdf,
    docx, rejects, robots.txt) — the one place the env-var/default
    corpus resolution lives; consumers that need a subset filter on top
    (``_pages_df`` for the utf-8 html population, ``operators/robots``
    for /robots.txt rows, ``headtags.q_charset_audit`` for markup)."""
    path = os.environ.get("SPARK_GRAFT_PAGES") or pages_path()
    return spark.read.parquet(path)


def _pages_df(spark: SparkSession) -> DataFrame:
    """HTML rows of the pages corpus (``.html`` URL suffix marks the
    format; fixture HTML payloads are pure UTF-8 by construction).

    Defaults to the committed smoke corpus — the one the DuckDB oracles
    interpolate — so correctness checks are reproducible; ``bench.py``
    points ``SPARK_GRAFT_PAGES`` at the scale-matched corpus so the
    timing rows measure real extraction volume, not the fixture."""
    return all_pages_df(spark).filter(F.col("url").endswith(".html"))


def extract_links(pages: DataFrame) -> DataFrame:
    """(url, link, src_host, dst_host, internal) — one row per outlink.

    The decode + regex + resolve chain is one codegen'd projection; the
    only wide op a caller adds later is their own aggregation."""
    return (pages
            .select(
                "url",
                F.explode(
                    F.regexp_extract_all(F.decode("html", "UTF-8"),
                                         F.lit(HREF_RE), 1)).alias("link"))
            .withColumn("src_host", F.regexp_extract("url", HOST_RE, 1))
            # absolute only on a real scheme ('httpdocs/x' is relative),
            # scheme-relative '//host/path' takes the target's own
            # authority (round-3 advice)
            .withColumn("dst_host",
                        F.when(F.col("link").rlike("^https?://"),
                               F.regexp_extract("link", HOST_RE, 1))
                        .when(F.col("link").startswith("//"),
                              F.regexp_extract("link", SCHEMELESS_HOST_RE,
                                               1))
                        .otherwise(F.col("src_host")))
            .withColumn("internal",
                        (F.col("dst_host") == F.col("src_host"))
                        .cast("boolean")))


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page outlinks with resolved hosts (the WAT record body).

    No global sort: this is the tier's LARGEST output (~50 links/page,
    so 5x10^13 rows at 10^12 pages) and WAT record order carries no
    semantics — a total order would add a full range-shuffle for
    nothing (measured 2x the query cost at bench scale). The
    correctness gate hashes rows order-insensitively."""
    return (extract_links(_pages_df(spark))
            .select("url", "link", "dst_host", "internal"))


def q_url_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization + alias clustering — the canonicalization a
    crawler runs BEFORE frontier dedup, so ``http://Host:80/p#x`` and
    ``http://host/p?utm_source=f`` don't get fetched twice.

    Rules (the standard RFC 3986 §6 safe set + tracking-param strip):
    lowercase scheme and host, drop the fragment, drop default ports
    (:80/:443), drop ``utm_*`` query params, sort the surviving params.
    The fixture corpus is already canonical, so the query PLANTS five
    deterministic alias variants per selected url: uppercased host,
    fragment, and explicit :443 collapse back onto the base url's
    cluster (4 variants), while two query-string forms — sorted-clean
    ``?a=1&b=2`` and shuffled-with-tracking ``?b=2&utm_source=feed&a=1``
    — collapse onto each other (2 variants) but NOT onto the base:
    real query params are identity, only their order and the utm_*
    noise are not.

    Scale shape: pure codegen'd string projection + one map-side-combined
    groupBy on the canonical url — the same single-Exchange shape as
    exact dedup; at 10^12 urls the normalize runs in the scan and only
    (canon, count) partials shuffle."""
    raw = all_pages_df(spark).select("url")
    planted = (raw.filter(F.length("url") % 3 == 0)
               .select(F.explode(F.array(
                   # uppercase the authority only
                   F.concat(F.regexp_extract("url", "^(https?://)", 1),
                            F.upper(F.regexp_extract("url",
                                                     "^https?://([^/?#]+)",
                                                     1)),
                            F.regexp_replace("url", "^https?://[^/?#]+",
                                             "")),
                   F.concat(F.col("url"), F.lit("#section-2")),
                   F.concat(F.col("url"), F.lit("?a=1&b=2")),
                   F.concat(F.col("url"),
                            F.lit("?b=2&utm_source=feed&a=1")),
                   F.concat(F.regexp_extract("url", "^(https?://)", 1),
                            F.regexp_extract("url", "^https?://([^/?#]+)",
                                             1),
                            F.lit(":443"),
                            F.regexp_replace("url", "^https?://[^/?#]+",
                                             "")),
               )).alias("url")))
    pool = raw.unionAll(planted)
    base = F.regexp_replace("url", "#.*$", "")
    scheme = F.lower(F.regexp_extract(base, "^([a-zA-Z]+)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(base, "^[a-zA-Z]+://([^/?]+)", 1)),
        ":(80|443)$", "")
    path = F.regexp_extract(base, "^[a-zA-Z]+://[^/?]+([^?]*)", 1)
    qstr = F.regexp_extract(base, "\\?(.*)$", 1)
    params = F.array_sort(F.filter(
        F.split(qstr, "&"),
        lambda p: (p != "") & ~p.startswith("utm_")))
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.size(params) > 0,
               F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")))
    return (pool.select(F.col("url").alias("raw_url"),
                        canon.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.countDistinct("raw_url").cast("long").alias("n_variants"),
                 F.min("raw_url").alias("first_variant"),
                 F.max("raw_url").alias("last_variant"))
            .orderBy("canonical_url"))


def host_linkgraph(pages: DataFrame) -> DataFrame:
    return (extract_links(pages)
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").cast("long").alias("n_links"),
                 F.countDistinct("url").cast("long").alias("n_pages")))


def q_host_linkgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated host→host edge list (link + distinct-page counts)."""
    return (host_linkgraph(_pages_df(spark))
            .orderBy("src_host", "dst_host"))


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text counts per target host: extract whole anchor tags in
    ONE regex pass over the page, then pull href and anchor out of each
    short tag string (re-matching the same anchored pattern on its own
    full match is exact), resolve the host, aggregate. One page-sized
    regex scan instead of two — measured ~15-30% faster at bench scale,
    and the per-tag extracts run on ~60-char strings."""
    pages = _pages_df(spark)
    page = F.decode("html", "UTF-8")
    zipped = (pages
              .select(
                  "url",
                  F.explode(
                      F.regexp_extract_all(page, F.lit(ANCHOR_RE), 0))
                  .alias("tag"))
              .select("url",
                      F.regexp_extract("tag", ANCHOR_RE, 1).alias("href"),
                      F.regexp_extract("tag", ANCHOR_RE, 2).alias("anchor"))
              .withColumn("src_host", F.regexp_extract("url", HOST_RE, 1))
              .withColumn("dst_host",
                          F.when(F.col("href").rlike("^https?://"),
                                 F.regexp_extract("href", HOST_RE, 1))
                          .when(F.col("href").startswith("//"),
                                F.regexp_extract("href",
                                                 SCHEMELESS_HOST_RE, 1))
                          .otherwise(F.col("src_host"))))
    return (zipped.groupBy("dst_host", "anchor")
            .agg(F.count("*").cast("long").alias("n_links"))
            .filter(F.col("n_links") >= 3)
            .orderBy("dst_host", "anchor"))


def q_frontier_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-URL discovery: outlink targets the crawl has NOT fetched
    yet, aggregated per destination host — the step that GROWS a
    crawler's frontier (``pagemeta.q_frontier_priority`` ranks hosts
    already seen; this finds the unseen URLs to seed).

    Relative hrefs resolve against the source page's authority
    (RFC 3986 §5: root-relative → scheme://host + path); the candidate
    set is ``distinct`` resolved targets LEFT ANTI-joined against the
    crawled url column.

    Scale notes (10^12 pages): the anti-join keys BOTH sides on the
    url hash — one co-partitioned Exchange pair, sort-merge anti, no
    broadcast needed or possible at that size (no hint is given: at
    fixture size auto-broadcast plans a BroadcastHashJoin LeftAnti
    instead); candidates arrive
    pre-shrunk by the ``distinct`` (itself map-side partial). Nothing
    ever carries body bytes — url strings only."""
    pages = _pages_df(spark)
    # '//' before '/': a scheme-relative href startswith both, and must
    # take its own authority plus the page's scheme (assumed https —
    # the fixture crawl is https-only), not the source host
    resolved = (extract_links(pages)
                .select(
                    "url", "dst_host",
                    F.when(F.col("link").rlike("^https?://"), F.col("link"))
                    .when(F.col("link").startswith("//"),
                          F.concat(F.lit("https:"), F.col("link")))
                    .when(F.col("link").startswith("/"),
                          F.concat(F.lit("https://"), F.col("src_host"),
                                   F.col("link")))
                    .otherwise(F.concat(F.lit("https://"), F.col("src_host"),
                                        F.lit("/"), F.col("link")))
                    .alias("target"))
                .distinct())
    # "already fetched" means ANY fetched url — .htm legacy pages,
    # PDFs, robots.txt — not just the .html subset the link extractor
    # reads, or fetched non-html urls would re-enter the frontier as
    # "new" (round-3 review)
    crawled = all_pages_df(spark).select(F.col("url").alias("target"))
    fresh = (resolved
             .join(crawled, "target", "left_anti")
             .groupBy("dst_host")
             .agg(F.countDistinct("target").cast("long").alias("n_urls"),
                  F.countDistinct("url").cast("long").alias("n_sources"),
                  F.min("target").alias("first_url")))
    return fresh.orderBy(F.desc("n_urls"), "dst_host")


def host_ranks(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ranks(id, pr), outdeg(src_host, deg)) over the extracted host
    graph: distinct non-self edges, ``LPR_ITERS`` unrolled rounds,
    uniform init 1/N, teleport (1-d)/N; dangling mass (hosts with no
    outlinks, e.g. ``ref.example``) evaporates. ``pr`` is the raw
    (unrounded) rank so composers (``pagemeta.q_frontier_priority``)
    stay bit-identical with oracles that consume the same CTE chain."""
    edges = (extract_links(pages)
             .select("src_host", "dst_host")
             .filter(F.col("src_host") != F.col("dst_host"))
             .distinct()
             .localCheckpoint(eager=True))
    outdeg = edges.groupBy("src_host").agg(F.count("*").alias("deg"))
    edges_deg = edges.join(outdeg, "src_host").localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src_host").alias("id"))
             .unionAll(edges.select(F.col("dst_host").alias("id")))
             .distinct()
             .localCheckpoint(eager=True))
    n_nodes = nodes.count()          # one small driver sync, outside the loop
    init = 1.0 / n_nodes
    teleport = LPR_TELEPORT / n_nodes
    ranks = nodes.withColumn("pr", F.lit(init))
    for _ in range(LPR_ITERS):
        contrib = (edges_deg.join(ranks, edges_deg.src_host == ranks.id)
                   .groupBy("dst_host")
                   .agg(F.sum(F.col("pr") / F.col("deg")).alias("s")))
        ranks = (nodes.join(contrib, nodes.id == contrib.dst_host, "left")
                 .select(F.col("id"),
                         (F.lit(teleport)
                          + F.lit(LPR_DAMPING) * F.coalesce("s", F.lit(0.0)))
                         .alias("pr"))
                 .localCheckpoint(eager=True))
    return ranks, outdeg


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the extracted host graph (see ``host_ranks``).

    Same loop shape as ``q_domain_pagerank`` (localCheckpoint lineage
    truncation per round, map-side-combined contribution agg) but the
    edges come from the real extractor, so this pins crawl → WAT →
    ranking end to end."""
    ranks, outdeg = host_ranks(_pages_df(spark))
    return (ranks.join(outdeg, ranks.id == outdeg.src_host, "left")
            .select(F.col("id").alias("host"),
                    F.coalesce(F.col("deg"), F.lit(0)).cast("long")
                    .alias("out_deg"),
                    F.round("pr", 9).alias("pagerank"))
            .orderBy("host"))


# ---------------------------------------------------------------------------
# DuckDB oracles — identical regexes, identical resolution CASE, identical
# unrolled recurrence with the same interpolated double literals.
# ---------------------------------------------------------------------------

_LINKS_CTE = """
        links AS (
          SELECT url,
                 unnest(regexp_extract_all(decode(html),
                        '<a href="([^"]+)"', 1)) AS link,
                 regexp_extract(url, '^https?://([^/]+)', 1) AS src_host
          FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'),
        resolved AS (
          SELECT url, link, src_host,
                 CASE WHEN regexp_matches(link, '^https?://')
                      THEN regexp_extract(link, '^https?://([^/]+)', 1)
                      WHEN link LIKE '//%'
                      THEN regexp_extract(link, '^//([^/]+)', 1)
                      ELSE src_host END AS dst_host
          FROM links)"""


def pagerank_cte(n_nodes: int) -> str:
    """WITH-body computing ``pr{LPR_ITERS}(id, pr)`` + ``outdeg`` from
    ``__PAGES_PARQUET__`` — the shared recurrence both the pagerank
    oracle and the frontier-priority oracle (operators/pagemeta.py)
    append their own SELECT to."""
    init = 1.0 / n_nodes
    teleport = LPR_TELEPORT / n_nodes
    base = f"""
        WITH {_LINKS_CTE},
        edges AS (
          SELECT DISTINCT src_host, dst_host FROM resolved
          WHERE src_host <> dst_host),
        outdeg AS (
          SELECT src_host, count(*) AS deg FROM edges GROUP BY src_host),
        nodes AS (
          SELECT DISTINCT id FROM (
            SELECT src_host AS id FROM edges
            UNION ALL SELECT dst_host FROM edges)),
        pr0 AS (SELECT id, {init!r} AS pr FROM nodes)"""
    rounds = []
    for k in range(1, LPR_ITERS + 1):
        rounds.append(f""",
        pr{k} AS (
          SELECT n.id,
                 {teleport!r} + {LPR_DAMPING!r} * coalesce(c.s, 0.0) AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst_host, sum(p.pr / o.deg) AS s
            FROM edges e
            JOIN pr{k - 1} p ON e.src_host = p.id
            JOIN outdeg o ON e.src_host = o.src_host
            GROUP BY e.dst_host) c ON c.dst_host = n.id)""")
    return base + "".join(rounds)


def _link_pagerank_oracle(n_nodes: int) -> str:
    return pagerank_cte(n_nodes) + f"""
        SELECT r.id AS host,
               CAST(coalesce(o.deg, 0) AS BIGINT) AS out_deg,
               round(r.pr, 9) AS pagerank
        FROM pr{LPR_ITERS} r
        LEFT JOIN outdeg o ON r.id = o.src_host
        ORDER BY host
    """


LINKGRAPH_ORACLES = {
    "link_extract": f"""
        WITH {_LINKS_CTE}
        SELECT url, link, dst_host,
               (dst_host = src_host) AS internal
        FROM resolved
        ORDER BY url, link
    """,
    "host_linkgraph": f"""
        WITH {_LINKS_CTE}
        SELECT src_host, dst_host,
               CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT url) AS BIGINT) AS n_pages
        FROM resolved
        GROUP BY src_host, dst_host
        ORDER BY src_host, dst_host
    """,
    "frontier_discovery": f"""
        WITH {_LINKS_CTE},
        targets AS (
          SELECT url, dst_host,
                 CASE WHEN regexp_matches(link, '^https?://') THEN link
                      WHEN link LIKE '//%' THEN 'https:' || link
                      WHEN link LIKE '/%'
                        THEN 'https://' || src_host || link
                      ELSE 'https://' || src_host || '/' || link
                 END AS target
          FROM resolved),
        crawled AS (
          SELECT url AS target FROM '__PAGES_PARQUET__'),
        fresh AS (
          SELECT t.* FROM targets t
          WHERE NOT EXISTS (SELECT 1 FROM crawled c
                            WHERE c.target = t.target))
        SELECT dst_host,
               CAST(count(DISTINCT target) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT url) AS BIGINT) AS n_sources,
               min(target) AS first_url
        FROM fresh
        GROUP BY dst_host
        ORDER BY n_urls DESC, dst_host
    """,
    "url_aliases": """
        WITH raw AS (SELECT url FROM '__PAGES_PARQUET__'),
        planted AS (
          SELECT unnest([
            regexp_extract(url, '^(https?://)', 1)
              || upper(regexp_extract(url, '^https?://([^/?#]+)', 1))
              || regexp_replace(url, '^https?://[^/?#]+', ''),
            url || '#section-2',
            url || '?a=1&b=2',
            url || '?b=2&utm_source=feed&a=1',
            regexp_extract(url, '^(https?://)', 1)
              || regexp_extract(url, '^https?://([^/?#]+)', 1) || ':443'
              || regexp_replace(url, '^https?://[^/?#]+', '')
          ]) AS url
          FROM raw WHERE length(url) % 3 = 0),
        pool AS (SELECT url FROM raw
                 UNION ALL SELECT url FROM planted),
        parts AS (
          SELECT url AS raw_url,
            lower(regexp_extract(base, '^([a-zA-Z]+)://', 1)) AS scheme,
            regexp_replace(lower(regexp_extract(base,
                '^[a-zA-Z]+://([^/?]+)', 1)), ':(80|443)$', '') AS host,
            regexp_extract(base, '^[a-zA-Z]+://[^/?]+([^?]*)', 1) AS path,
            regexp_extract(base, '\\?(.*)$', 1) AS qstr
          FROM (SELECT url, regexp_replace(url, '#.*$', '') AS base
                FROM pool)),
        canon AS (
          SELECT raw_url,
            scheme || '://' || host || path ||
            CASE WHEN len(ps) > 0
                 THEN '?' || array_to_string(ps, '&') ELSE '' END
              AS canonical_url
          FROM (SELECT raw_url, scheme, host, path,
                  list_sort(list_filter(str_split(qstr, '&'),
                    p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS ps
                FROM parts))
        SELECT canonical_url,
               CAST(count(DISTINCT raw_url) AS BIGINT) AS n_variants,
               min(raw_url) AS first_variant,
               max(raw_url) AS last_variant
        FROM canon GROUP BY canonical_url ORDER BY canonical_url
    """,
    "anchor_stats": """
        WITH pairs AS (
          SELECT url,
                 unnest(regexp_extract_all(decode(html),
                        '<a href="([^"]+)"[^>]*>([^<]*)</a>', 1)) AS href,
                 unnest(regexp_extract_all(decode(html),
                        '<a href="([^"]+)"[^>]*>([^<]*)</a>', 2)) AS anchor,
                 regexp_extract(url, '^https?://([^/]+)', 1) AS src_host
          FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'),
        resolved AS (
          SELECT anchor,
                 CASE WHEN regexp_matches(href, '^https?://')
                      THEN regexp_extract(href, '^https?://([^/]+)', 1)
                      WHEN href LIKE '//%'
                      THEN regexp_extract(href, '^//([^/]+)', 1)
                      ELSE src_host END AS dst_host
          FROM pairs)
        SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS n_links
        FROM resolved
        GROUP BY dst_host, anchor
        HAVING count(*) >= 3
        ORDER BY dst_host, anchor
    """,
}


def oracle_sql_for_links(repo_root: str, n_nodes: int) -> dict[str, str]:
    path = pages_path(repo_root)
    out = {k: v.replace("__PAGES_PARQUET__", path)
           for k, v in LINKGRAPH_ORACLES.items()}
    out["link_pagerank"] = (_link_pagerank_oracle(n_nodes)
                            .replace("__PAGES_PARQUET__", path))
    return out
