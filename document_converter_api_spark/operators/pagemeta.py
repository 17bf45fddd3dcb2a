"""Head-metadata tier: per-page metadata extraction, a declared-vs-
detected language audit, and crawl-frontier (recrawl) prioritization.

Reference parity note: the reference service (``/root/reference/app/
main.py``) converts one uploaded document at a time and keeps no notion
of a page's head metadata, its declared language, or when to fetch it
again. A crawl-scale webtext pipeline needs all three: Common Crawl's
WAT records carry exactly this head metadata (title + metas) next to the
outlinks ``operators/linkgraph.py`` extracts, CCNet/CC-MAIN pipelines
audit the HTML ``lang`` attribute against content-detected language
(declared lang is wrong on a noticeable fraction of the web), and a
production crawler schedules refetches by authority x staleness. All
three stages here are single codegen'd projections or one small keyed
aggregation — no Python anywhere.

* ``q_page_metadata`` — title / h1 / declared ``lang`` plus heading,
  paragraph and script counts per page (the WAT head-metadata record),
  one ``regexp_extract``/``regexp_extract_all`` projection.
* ``q_lang_audit`` — stopword-hit language ID (same stopword tables and
  argmax tie-break as ``operators/text_analysis.q_lang_id``) over the
  page's VISIBLE text (script/style bodies then all tags stripped),
  compared against the declared ``<html lang>``. Tokens and hit counts
  are materialized columns first — HOF lambdas get no codegen/CSE, so
  an inline subtree would re-strip the page per reference.
* ``q_frontier_priority`` — per-host recrawl priority: extracted-graph
  PageRank (``linkgraph.host_ranks``) x ``ln(1 + hours_stale)`` where
  staleness is measured in integer microseconds against the corpus'
  newest fetch (exact cross-engine, same trick as ``operators/
  temporal.py``). Hosts whose pages only link internally have no graph
  edge and coalesce to rank 0 — they never outrank a linked host.

Scale notes (10^12 pages):

* metadata + audit are shuffle-free scan projections; the audit's only
  wide op is the caller's own aggregation if they want a mismatch rate.
* the frontier agg is one ``groupBy(host)`` — map-side combined,
  ~10^8 host rows out of 10^12 pages; the rank join is a broadcast of
  the (tiny) host-rank table. The corpus-max timestamp is a 1-row agg
  broadcast back via crossJoin (the ``operators/search.py`` BM25
  corpus-stats shape).
* ``ln`` is bit-identical Spark vs DuckDB on this box (proved by the
  bm25/classifier/unigram oracles); the PageRank factor reuses the
  exact recurrence via ``linkgraph.pagerank_cte`` so ``priority`` is
  hash-comparable without tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import case_map_expr, lower_expr
from .linkgraph import (
    HOST_RE,
    LPR_ITERS,
    _pages_df,
    host_ranks,
    pages_path,
    pagerank_cte,
)
from .text_analysis import (
    _ALL_STOPS,
    LANG_ORDER,
    PRED_LANG_SQL,
    STOPWORDS,
    _in_list,
    pred_lang,
    stop_hits_sql,
)

DECLARED_RE = '<html lang="([a-z]+)"'
TITLE_RE = "<title>([^<]*)</title>"
H1_RE = "<h1>([^<]*)</h1>"
# ONE combined strip pass: at a '<script'/'<style' position the block
# alternative wins over the bare-tag alternative (leftmost-first in
# both java.util.regex and RE2 — no backreferences, RE2-safe), so
# script/style BODIES vanish along with the tags. Measured ~30% faster
# than a two-pass strip at bench scale, byte-identical output.
STRIP_RE = ("(?s)<script[^>]*>.*?</script>"
            "|(?s)<style[^>]*>.*?</style>"
            "|<[^>]*>")
US_PER_HOUR = 3_600_000_000


def _page(col: str = "html"):
    return F.decode(col, "UTF-8")


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT-style head metadata per page: one codegen'd projection."""
    page = _page()

    def n_of(pat: str):
        return F.size(F.regexp_extract_all(page, F.lit(pat), 0)).cast("long")

    return (_pages_df(spark)
            .select(
                "url",
                F.regexp_extract(page, DECLARED_RE, 1).alias("declared_lang"),
                F.regexp_extract(page, TITLE_RE, 1).alias("title"),
                F.regexp_extract(page, H1_RE, 1).alias("h1"),
                n_of("<h2>").alias("n_h2"),
                n_of("<p>").alias("n_paragraphs"),
                n_of("<script").alias("n_scripts"),
                n_of('<a href="').alias("n_links"))
            .orderBy("url"))


def visible_text(page):
    """Tag-stripped page text: script/style bodies and all tags in one
    leftmost-first alternation pass (see ``STRIP_RE``)."""
    return F.regexp_replace(page, STRIP_RE, " ")


def q_lang_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared ``<html lang>`` vs stopword-detected language of the
    visible text — the CCNet-style label audit. Same stopword tables
    and (en, es, de) argmax tie-break as ``text_analysis.q_lang_id``.

    NO TOKEN ARRAY: one case-insensitive ``regexp_extract_all`` scan of
    the stripped page pulls only the stopword occurrences —
    ``(?i)(?<![a-zA-Z])(?:all 30 words)(?![a-zA-Z])`` matches exactly
    the maximal letter runs equal to a stopword, i.e. exactly what
    ``split("[^a-z]+")`` + ``isin(...)`` counted on the lowered text —
    then ONE ``F.aggregate`` folds that (tiny) match array into a
    ``struct<hits_en,hits_es,hits_de>``, expanded to columns via
    ``F.inline(F.array(h))`` (a Generate; equivalent to three
    ``h.hits_xx`` struct-field projections — counterfactual measured
    same plan, same time — CollapseProject already refuses to inline a
    non-cheap multi-referenced column, so the executed plan carries ONE
    ``regexp_extract_all`` either way).

    Measured (50k-page bench corpus, interleaved noop-write A/B,
    round-5 optimization log): the r4 hypothesis that the strip chain
    re-evaluated per language was WRONG — the r4 plan also evaluated
    its split once; an ``F.aggregate`` over the full token array
    (0.95x) and three per-language ``regexp_count`` scans (1.01x) both
    matched the r4 form's ~6.3-8.5 s. What actually pays: never
    materializing the full token array (extract only stopword matches)
    and skipping the full-string ``lower()`` copy via ``(?i)`` (Java's
    ``(?i)`` folds ASCII only, so ``case_map_expr`` first maps İ to i as
    DuckDB's ``lower`` does). This
    shape profiles at: strip 1.3 s, (?i)-match ~1.1 s, declared-lang
    regex 0.4 s, aggregate ~0.5 s — 1.50x the r4 form end to end.
    The DuckDB oracle keeps its ``str_split`` + ``list_filter`` form —
    RE2 has no lookarounds — which is fine: the gate compares values,
    not plans."""
    all_pat = ("(?i)(?<![a-zA-Z])(?:" + "|".join(_ALL_STOPS)
               + ")(?![a-zA-Z])")
    stops = F.regexp_extract_all(case_map_expr(visible_text(_page())),
                                 F.lit(all_pat), 0)
    zero = F.struct(*[F.lit(0).cast("long").alias(f"hits_{lang}")
                      for lang in LANG_ORDER])
    h = F.aggregate(stops, zero, lambda acc, t: F.struct(*[
        (acc[f"hits_{lang}"]
         + F.lower(t).isin(*STOPWORDS[lang]).cast("long"))
        .alias(f"hits_{lang}") for lang in LANG_ORDER]))
    docs = _pages_df(spark).select(
        "url",
        F.regexp_extract(_page(), DECLARED_RE, 1).alias("declared_lang"),
        F.inline(F.array(h)))
    pred = pred_lang(*[F.col(f"hits_{lang}") for lang in LANG_ORDER])
    return (docs
            .withColumn("pred_lang", pred)
            .withColumn("match",
                        (F.col("pred_lang") == F.col("declared_lang"))
                        .cast("int"))
            .select("url", "declared_lang", "hits_en", "hits_es", "hits_de",
                    "pred_lang", "match")
            .orderBy("url"))


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease over the EXTRACTED main text (the ``text``
    column — the corpus the extraction stage feeds downstream).

    The classic quality gate for training-corpus curation: sentence
    count from terminal-punctuation runs, word count and vowel-group
    syllable approximation from one lowercased pass — three
    ``regexp_extract_all`` sizes in a single codegen'd projection, zero
    shuffle, so it rides the same scan as every other per-page signal.
    Guards: ``greatest(1, …)`` keeps ratios defined on punctuation-free
    or empty pages. All three counts are integers; the two ratios and
    the score are single-rounding IEEE-double expressions — the same
    fragment both engines run, so the oracle compares hashes exactly
    (the ``ln``/divide bit-identity this repo pins elsewhere).

    Scale note: pure scan-stage projection over 10^12 pages; the only
    wide op is the deterministic ``orderBy`` a caller can drop."""
    low = lower_expr("text")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0))
        .cast("long"))
    n_words = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(low, F.lit("[a-z]+"), 0)).cast("long"))
    n_syll = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0)) \
        .cast("long")
    base = (_pages_df(spark)
            .select("url",
                    n_sent.alias("n_sentences"),
                    n_words.alias("n_words"),
                    n_syll.alias("n_syllables")))
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    flesch = F.round(F.lit(206.835) - F.lit(1.015) * wps
                     - F.lit(84.6) * spw, 4)
    return (base
            .withColumn("words_per_sentence", F.round(wps, 4))
            .withColumn("syllables_per_word", F.round(spw, 4))
            .withColumn("flesch", flesch)
            .withColumn("band",
                        F.when(F.col("flesch") >= 90, "very_easy")
                        .when(F.col("flesch") >= 70, "easy")
                        .when(F.col("flesch") >= 50, "standard")
                        .when(F.col("flesch") >= 30, "difficult")
                        .otherwise("very_difficult"))
            .orderBy("url"))


def q_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl schedule: priority = PageRank x ln(1 + hours stale).

    Staleness is exact integer-microsecond math against the corpus'
    newest fetch; the hour floor is a double division of exactly-
    representable integers (diffs << 2^53), identical IEEE results in
    both engines. Freshly-crawled hosts get priority 0 regardless of
    rank — the scheduler only queues what has aged."""
    pages = _pages_df(spark)
    hosts = (pages
             .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                     F.unix_micros(F.col("warc_ts").cast("timestamp"))
                     .alias("us"))
             .groupBy("host")
             .agg(F.max("us").alias("last_us"),
                  F.count("*").cast("long").alias("n_pages")))
    corpus = hosts.agg(F.max("last_us").alias("corpus_us"))
    ranks, _ = host_ranks(pages)
    stale = F.floor((F.col("corpus_us") - F.col("last_us"))
                    / F.lit(float(US_PER_HOUR))).cast("long")
    pr = F.coalesce(F.col("pr"), F.lit(0.0))
    return (hosts.crossJoin(F.broadcast(corpus))
            .join(F.broadcast(ranks), hosts.host == ranks.id, "left")
            .withColumn("hours_stale", stale)
            .select("host", "n_pages", "hours_stale",
                    F.round(pr, 9).alias("pagerank"),
                    F.round(pr * F.log(F.lit(1.0) + F.col("hours_stale")), 9)
                    .alias("priority"))
            .orderBy(F.desc("priority"), "host"))


def q_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-template clusters: pages grouped by the run-collapsed tag
    sequence of their DOM — the structural (content-blind) dup signal a
    boilerplate trainer or template-aware extractor clusters on. Two
    pages with different text but the same skeleton share a cluster;
    collapsing consecutive repeats makes the signature robust to how
    many <p>/<li> a template instance emitted.

    The collapse is an indexed-lambda array filter (keep tag i if it
    differs from tag i-1) — Spark's 0-based ``filter(tags, (x, i) ->
    ...)`` against ``element_at`` (1-based) and DuckDB's 1-based
    ``list_filter`` express the identical window. One scan projection +
    one map-side-combined (host, template) agg; at 10^12 pages the
    output is bounded by distinct templates, orders of magnitude
    smaller than pages."""
    tags = F.regexp_extract_all(_page(), F.lit("<([a-z][a-z0-9]*)"), 1)
    pages = (_pages_df(spark)
             .select("url",
                     F.regexp_extract("url", HOST_RE, 1).alias("host"),
                     tags.alias("tags")))
    collapsed = F.filter(
        "tags", lambda x, i: (i == F.lit(0)) | (x != F.element_at("tags", i)))
    tpl = pages.select(
        "url", "host",
        F.md5(F.array_join(collapsed, "/")).alias("template_id"))
    return (tpl.groupBy("host", "template_id")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.min("url").alias("example_url"))
            .filter(F.col("n_pages") >= 2)
            .orderBy("host", "template_id"))


HQ_MIN_STOP_DENSITY = 0.02   # below: boilerplate/gibberish-heavy domain
HQ_MIN_TOKS_PER_PAGE = 120   # below: thin-content domain
CRAWL_BUDGET = 1000          # fetch slots per scheduling round


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style DOMAIN-level quality gate: micro-averaged stopword
    density and tokens/page per host, with a low-quality flag.

    Web curation filters whole domains, not just pages — a host whose
    aggregate text is thin or stopword-starved is dropped wholesale
    (FineWeb's URL/domain filtering stage). Sums are integers, so the
    per-host means are single exact-operand double divisions — identical
    IEEE results cross-engine, no tolerance needed. One map-side-combined
    ``groupBy(host)``; at 10^12 pages the output is ~10^8 host rows."""
    page = _page()
    toks = F.split(lower_expr(visible_text(page)), "[^a-z]+", -1)
    per_page = (_pages_df(spark)
                .select(F.regexp_extract("url", HOST_RE, 1).alias("host"),
                        toks.alias("toks"))
                .select("host",
                        F.size(F.filter("toks", lambda t: t != F.lit("")))
                        .cast("long").alias("n_toks"),
                        F.size(F.filter("toks", lambda t:
                                        t.isin(*_ALL_STOPS)))
                        .cast("long").alias("n_stops")))
    agg = (per_page.groupBy("host")
           .agg(F.count("*").cast("long").alias("n_pages"),
                F.sum("n_toks").alias("n_tokens"),
                F.sum("n_stops").alias("n_stopwords")))
    toks_pp = F.round(F.col("n_tokens") / F.col("n_pages"), 6)
    density = F.round(F.col("n_stopwords") / F.col("n_tokens"), 6)
    return (agg.select(
        "host", "n_pages", "n_tokens", "n_stopwords",
        toks_pp.alias("toks_per_page"),
        density.alias("stop_density"),
        ((density < HQ_MIN_STOP_DENSITY)
         | (toks_pp < HQ_MIN_TOKS_PER_PAGE)).alias("low_quality"))
        .orderBy("host"))


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder allocation of ``CRAWL_BUDGET`` fetch slots
    across hosts, proportional to frontier priority — the step after
    ``q_frontier_priority`` in a real scheduler.

    All arithmetic is integer-exact: priorities are snapped to their
    parts-per-billion grid (they ARE ``round(x, 9)`` values, so the
    snap is lossless), base shares are ``(ppb x B) div total``, and the
    leftover R slots go to the R largest ``(remainder, host)`` pairs.
    The top-up is Spark's ``orderBy().limit(R)`` — a distributed
    ``TakeOrderedAndProject`` top-k, never a global window; the oracle
    reaches the same set through a ``row_number`` window (cross-
    ALGORITHM agreement, as in ``operators/temporal.py``). Two 1-row
    driver syncs (total, R) — same class as PageRank's node count."""
    fr = q_frontier_priority(spark, sf_dir)
    grid = fr.select(
        "host",
        F.round(F.col("priority") * 1e9).cast("long").alias("ppb"))
    tot = int(grid.agg(F.sum("ppb")).collect()[0][0] or 0)
    if tot == 0:   # empty/unranked frontier: nothing to schedule
        return (grid.select("host", "ppb",
                            F.lit(0).cast("long").alias("base"),
                            F.lit(0).cast("int").alias("topup"),
                            F.lit(0).cast("long").alias("alloc"))
                .orderBy(F.desc("alloc"), "host"))
    shares = grid.select(
        "host", "ppb",
        F.expr(f"(ppb * {CRAWL_BUDGET}L) DIV {tot}L").alias("base"),
        F.expr(f"(ppb * {CRAWL_BUDGET}L) % {tot}L").alias("rem"))
    r_left = CRAWL_BUDGET - int(shares.agg(F.sum("base")).collect()[0][0])
    top = (shares.orderBy(F.desc("rem"), "host").limit(r_left)
           .select("host", F.lit(1).cast("int").alias("topup")))
    return (shares.join(top, "host", "left")
            .select("host", "ppb", "base",
                    F.coalesce("topup", F.lit(0)).cast("int").alias("topup"),
                    (F.col("base") + F.coalesce("topup", F.lit(0)))
                    .cast("long").alias("alloc"))
            .orderBy(F.desc("alloc"), "host"))


# ---------------------------------------------------------------------------
# DuckDB oracles — identical regexes, stopword lists, argmax CASE, and the
# shared PageRank CTE chain from linkgraph.pagerank_cte.
# ---------------------------------------------------------------------------

_META_SQL = """
    SELECT url,
           regexp_extract(decode(html), '<html lang="([a-z]+)"', 1)
             AS declared_lang,
           regexp_extract(decode(html), '<title>([^<]*)</title>', 1)
             AS title,
           regexp_extract(decode(html), '<h1>([^<]*)</h1>', 1) AS h1,
           CAST(len(regexp_extract_all(decode(html), '<h2>')) AS BIGINT)
             AS n_h2,
           CAST(len(regexp_extract_all(decode(html), '<p>')) AS BIGINT)
             AS n_paragraphs,
           CAST(len(regexp_extract_all(decode(html), '<script')) AS BIGINT)
             AS n_scripts,
           CAST(len(regexp_extract_all(decode(html), '<a href="')) AS BIGINT)
             AS n_links
    FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'
    ORDER BY url
"""

_AUDIT_SQL = f"""
    WITH toks AS (
      SELECT url,
             regexp_extract(decode(html), '<html lang="([a-z]+)"', 1)
               AS declared_lang,
             string_split_regex(lower(regexp_replace(decode(html),
                 '(?s)<script[^>]*>.*?</script>|(?s)<style[^>]*>.*?</style>|<[^>]*>',
                 ' ', 'g')), '[^a-z]+') AS t
      FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'),
    hits AS (SELECT url, declared_lang, {stop_hits_sql("t")} FROM toks)
    SELECT url, declared_lang, hits_en, hits_es, hits_de,
           {PRED_LANG_SQL} AS pred_lang,
           CAST(CASE WHEN ({PRED_LANG_SQL}) = declared_lang THEN 1 ELSE 0 END
                AS INT) AS match
    FROM hits ORDER BY url
"""


def _frontier_oracle(n_nodes: int) -> str:
    return pagerank_cte(n_nodes) + f""",
        hosts AS (
          SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
                 max(epoch_us(warc_ts)) AS last_us,
                 CAST(count(*) AS BIGINT) AS n_pages
          FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'
          GROUP BY 1),
        corpus AS (SELECT max(last_us) AS corpus_us FROM hosts)
        SELECT h.host, h.n_pages,
               CAST(floor((c.corpus_us - h.last_us)
                          / {float(US_PER_HOUR)!r}) AS BIGINT) AS hours_stale,
               round(coalesce(r.pr, 0.0), 9) AS pagerank,
               round(coalesce(r.pr, 0.0)
                     * ln(1.0 + CAST(floor((c.corpus_us - h.last_us)
                           / {float(US_PER_HOUR)!r}) AS BIGINT)), 9)
                 AS priority
        FROM hosts h
        CROSS JOIN corpus c
        LEFT JOIN pr{LPR_ITERS} r ON r.id = h.host
        ORDER BY priority DESC, h.host
    """


_HOST_QUALITY_SQL = f"""
    WITH toks AS (
      SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             string_split_regex(lower(regexp_replace(decode(html),
                 '(?s)<script[^>]*>.*?</script>|(?s)<style[^>]*>.*?</style>|<[^>]*>',
                 ' ', 'g')), '[^a-z]+') AS t
      FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'),
    pp AS (
      SELECT host,
             CAST(len(list_filter(t, x -> x <> '')) AS BIGINT) AS n_toks,
             CAST(len(list_filter(t, x -> x IN
                 ({_in_list(_ALL_STOPS)}))) AS BIGINT) AS n_stops
      FROM toks),
    agg AS (
      SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(sum(n_stops) AS BIGINT) AS n_stopwords
      FROM pp GROUP BY host)
    SELECT host, n_pages, n_tokens, n_stopwords,
           round(n_tokens / n_pages, 6) AS toks_per_page,
           round(n_stopwords / n_tokens, 6) AS stop_density,
           (round(n_stopwords / n_tokens, 6) < {HQ_MIN_STOP_DENSITY!r}
            OR round(n_tokens / n_pages, 6) < {HQ_MIN_TOKS_PER_PAGE})
             AS low_quality
    FROM agg ORDER BY host
"""


def _crawl_budget_oracle(n_nodes: int) -> str:
    """Same integer-grid largest-remainder allocation, but the top-R
    selection is a row_number window instead of Spark's TakeOrdered
    top-k — cross-ALGORITHM agreement."""
    frontier = _frontier_oracle(n_nodes)
    # strip the trailing ORDER BY so the frontier can sit in a CTE
    body = frontier[: frontier.rindex("ORDER BY")]
    head, sel = body.split("SELECT h.host,", 1)
    return f"""{head}
        , fr AS (SELECT h.host, {sel}),
        grid AS (
          SELECT host,
                 CAST(round(priority * 1000000000.0) AS BIGINT) AS ppb
          FROM fr),
        tot AS (SELECT CAST(sum(ppb) AS BIGINT) AS total FROM grid),
        shares AS (
          SELECT g.host, g.ppb,
                 CASE WHEN t.total = 0 THEN 0
                      ELSE (g.ppb * {CRAWL_BUDGET}) // t.total END AS base,
                 CASE WHEN t.total = 0 THEN 0
                      ELSE (g.ppb * {CRAWL_BUDGET}) % t.total END AS rem,
                 t.total AS total
          FROM grid g CROSS JOIN tot t),
        rleft AS (
          SELECT {CRAWL_BUDGET} - CAST(sum(base) AS BIGINT) AS r
          FROM shares),
        ranked AS (
          SELECT host, ppb, base, total,
                 row_number() OVER (ORDER BY rem DESC, host) AS rn
          FROM shares)
        SELECT k.host, k.ppb, CAST(k.base AS BIGINT) AS base,
               CAST(CASE WHEN k.total > 0 AND k.rn <= l.r
                         THEN 1 ELSE 0 END AS INT) AS topup,
               CAST(k.base + CASE WHEN k.total > 0 AND k.rn <= l.r
                                  THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM ranked k CROSS JOIN rleft l
        ORDER BY alloc DESC, k.host
    """


_TEMPLATE_SQL = """
    WITH t AS (
      SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             regexp_extract_all(decode(html), '<([a-z][a-z0-9]*)', 1) AS tags
      FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'),
    c AS (
      SELECT url, host,
             md5(array_to_string(list_filter(tags,
                 (x, i) -> i = 1 OR x <> tags[i - 1]), '/')) AS template_id
      FROM t)
    SELECT host, template_id, CAST(count(*) AS BIGINT) AS n_pages,
           min(url) AS example_url
    FROM c GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY host, template_id
"""


_READABILITY_SQL = """
    WITH c AS (
      SELECT url,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             greatest(1, len(regexp_extract_all(lower(text), '[a-z]+')))
               AS n_words,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_syllables
      FROM '__PAGES_PARQUET__' WHERE url LIKE '%.html'),
    r AS (
      SELECT url,
             CAST(n_sentences AS BIGINT) AS n_sentences,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(n_syllables AS BIGINT) AS n_syllables,
             round(n_words / n_sentences, 4) AS words_per_sentence,
             round(n_syllables / n_words, 4) AS syllables_per_word,
             round(206.835 - 1.015 * (n_words / n_sentences)
                   - 84.6 * (n_syllables / n_words), 4) AS flesch
      FROM c)
    SELECT url, n_sentences, n_words, n_syllables,
           words_per_sentence, syllables_per_word, flesch,
           CASE WHEN flesch >= 90 THEN 'very_easy'
                WHEN flesch >= 70 THEN 'easy'
                WHEN flesch >= 50 THEN 'standard'
                WHEN flesch >= 30 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM r
    ORDER BY url
"""


PAGEMETA_ORACLES = {
    "page_metadata": _META_SQL,
    "lang_audit": _AUDIT_SQL,
    "host_quality": _HOST_QUALITY_SQL,
    "template_detect": _TEMPLATE_SQL,
    "readability": _READABILITY_SQL,
}


def oracle_sql_for_pagemeta(repo_root: str, n_nodes: int) -> dict[str, str]:
    path = pages_path(repo_root)
    out = {k: v.replace("__PAGES_PARQUET__", path)
           for k, v in PAGEMETA_ORACLES.items()}
    out["frontier_priority"] = (_frontier_oracle(n_nodes)
                                .replace("__PAGES_PARQUET__", path))
    out["crawl_budget"] = (_crawl_budget_oracle(n_nodes)
                           .replace("__PAGES_PARQUET__", path))
    return out
