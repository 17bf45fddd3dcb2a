"""Corpus-selection operators: deterministic stratified mix sampling,
domain-blocklist filtering, per-source distinctive-term mining, and
deterministic train/validation/test split assignment.

Reference parity note: like the curation tier (``operators/curation.py``),
these stages sit downstream of the reference service's per-document
conversion (``/root/reference/app/main.py`` stops at convert+store); they
are the corpus-level selection passes a 100 TB webtext pipeline runs when
assembling a training mix (The Pile / RefinedWeb style source weighting,
domain deny-lists, per-source signature terms for mix QA).

Scale notes per operator:

* ``mix_sample`` — sampling must be DETERMINISTIC at 10^12 rows (a
  ``rand()`` sample is irreproducible across retries and resumes, and a
  driver-side reservoir is a non-starter).  The draw is
  ``md5('mix:'||doc_id)`` compared against a per-stratum threshold, so the
  kept set is a pure function of the data: re-runs, speculative task
  retries, and partition-level resumes all agree.  The only shuffle is the
  tiny per-language count aggregation (map-side combinable, K rows); the
  threshold joins back via an explicit broadcast and the filter itself is
  a shuffle-free projection inside the scan stage.
* ``blocklist_filter`` — domain deny-lists are small by construction
  (~10^5 registered domains) while the corpus is not: the only sane plan
  at scale is registered-domain extraction as a scan-stage projection plus
  a broadcast LEFT ANTI join — zero data-sized shuffle; the per-domain
  report aggregation afterwards is map-side combinable.
* ``source_terms`` — tf lives on (source, term) — high cardinality, no
  skew; document frequency is per-term over the already-aggregated tf
  rows (vocabulary-sized, NOT corpus-sized), so the df side broadcasts.
  The corpus-wide source count is a 1-row aggregate crossed in via
  broadcast (same pattern as ``plans/queries.py`` retention).  Scoring is
  integer ``tf * (n_sources - df)`` — the log-idf variant is the
  production choice, but integer weights keep the cross-engine oracle
  exact to the last row (no float rounding at rank boundaries).

* ``split_assign`` — the split is a pure function of ``doc_id`` (salted
  md5 draw against fixed-width hex thresholds), so retries, re-runs, and
  later corpus versions agree on every document's split; the draw is a
  scan-stage projection and the per-split size report joins back via a
  3-row broadcast (a window partitioned by the 3-value split key would
  put a third of a 10^12-row corpus through each of three tasks).

Every operator has a DuckDB twin with identical constants in
``SAMPLING_ORACLES``.
"""

from __future__ import annotations

import math
from functools import partial
from hashlib import md5

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expressions import words, words_sql
from ..functions.pystage import drop_zip_finders
from .scan import widen

# ---------------------------------------------------------------------------
# Deterministic stratified mix sampling
# ---------------------------------------------------------------------------

MIX_TARGET_DOCS = 60          # per-language document budget (fixture scale)
_HASH_SPACE = 4294967296.0    # 16^8: the draw is the first 8 md5 hex chars


def mix_sample(docs: DataFrame, target_docs: int = MIX_TARGET_DOCS) -> DataFrame:
    """Keep ~``target_docs`` documents per language, deterministically.

    Per-stratum keep rate ``min(1, target/count)`` is turned into an 8-hex
    threshold; a row survives iff its md5 draw sorts below it.  Fixed-width
    lowercase hex compares lexicographically == numerically, so the
    comparison stays a string predicate both engines evaluate identically
    (no hex->int parsing, which DuckDB and Spark spell differently).
    Returns the kept rows plus ``n_total`` (stratum size) for reporting."""
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    thr = F.when(
        F.col("n_total") <= target_docs, F.lit("g")  # rate 1: 'g' > any hex
    ).otherwise(F.lower(F.lpad(F.hex(F.floor(
        (F.lit(float(target_docs)) / F.col("n_total")) * F.lit(_HASH_SPACE)
    )), 8, "0")))
    draw = F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8)
    return (docs.join(F.broadcast(counts), "lang")
            .withColumn("draw", draw)
            .withColumn("thr", thr)
            .filter(F.col("draw") < F.col("thr")))


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mix report over the sampled corpus: stratum size, kept
    docs, kept chars.  The kept subset itself is the operator's product;
    the report is its map-side-combinable summary."""
    docs = widen(spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "lang", "n_chars"))
    kept = mix_sample(docs)
    return (kept.groupBy("lang").agg(
        F.max("n_total").alias("n_total"),
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"))
        .orderBy("lang"))


# ---------------------------------------------------------------------------
# Domain-blocklist filtering (broadcast anti-join)
# ---------------------------------------------------------------------------

# Registered domains to deny. Hosts are derived deterministically from
# doc_id (documents carries no url) so both engines build the same input —
# the oracle checks the filter, not a url generator.
BLOCKLIST = ("site1.net", "site4.com", "site7.net", "site8.com")

_REG_DOMAIN_RE = r"([^.]+[.][^.]+)$"


def _with_host(docs: DataFrame) -> DataFrame:
    sub = (F.when(F.col("doc_id") % 3 == 0, F.lit("www"))
            .when(F.col("doc_id") % 3 == 1, F.lit("cdn"))
            .otherwise(F.lit("ads")))
    dom = F.concat(
        F.lit("site"), (F.col("doc_id") % 11).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(F.lit(".net")))
    host = F.concat(sub, F.lit("."), dom)
    return docs.withColumn("host", host).withColumn(
        "domain", F.regexp_extract(F.col("host"), _REG_DOMAIN_RE, 1))


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop documents whose REGISTERED domain (any subdomain of it) is
    deny-listed; report surviving volume per domain.

    Plan: registered-domain extraction is a regex projection in the scan
    stage; the deny-list joins as an explicit broadcast LEFT ANTI (the
    list is ~10^5 rows at production scale — always broadcastable), so no
    data-sized shuffle happens before the final per-domain aggregation."""
    docs = _with_host(
        widen(spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "n_chars")))
    block = spark.createDataFrame([(d,) for d in BLOCKLIST], "domain string")
    kept = docs.join(F.broadcast(block), "domain", "left_anti")
    return (kept.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"))
        .orderBy("domain"))


# ---------------------------------------------------------------------------
# Per-source distinctive terms (integer tf-idf variant)
# ---------------------------------------------------------------------------

TOP_TERMS = 3
_TERM_RE = "^[a-z0-9]+$"
_MIN_TERM_LEN = 4


def _plant_topics(docs: DataFrame) -> DataFrame:
    """Deterministically plant source-specific vocabulary (the fixture
    word salad is shared across sources, so every natural term has df ==
    n_sources and zero distinctiveness weight; the planted ``topic<k>``
    tokens are the ground-truth signal both engines must surface)."""
    snum = F.col("source").substr(4, 8)
    return docs.withColumn("text", F.concat(
        F.col("text"),
        F.lit(" topic"), snum, F.lit(" topic"), snum,
        F.lit(" niche"), (F.col("doc_id") % 7).cast("string")))


def q_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_TERMS`` distinctive terms per source, scored by integer
    ``tf * (n_sources - df)`` (terms shared by every source weigh zero).

    Shuffle shape: one (source, term) tf aggregation over the exploded
    tokens (high-cardinality keys — no skew), then vocabulary-sized df
    rows broadcast back, a 1-row source-count broadcast cross, and the
    per-source top-k window (each source's partition holds only its own
    vocabulary, never corpus rows)."""
    docs = _plant_topics(
        widen(spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "source", "text")))
    toks = (docs.select(
        "source",
        F.explode(words("text")).alias("term"))
        .filter((F.length("term") >= _MIN_TERM_LEN)
                & F.col("term").rlike(_TERM_RE)))
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("source").alias("df"))
    nsrc = tf.agg(F.countDistinct("source").alias("n_sources"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(nsrc))
              .withColumn("score", (F.col("tf")
                                    * (F.col("n_sources") - F.col("df"))
                                    ).cast("long")))
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_TERMS)
            .select("source", "term", "tf", "score", "rk")
            .orderBy("source", "rk"))


# ---------------------------------------------------------------------------
# Deterministic train/validation/test split assignment
# ---------------------------------------------------------------------------

# Thresholds over the first 3 md5 nibbles (a draw in [0, 4096)): ~1% val,
# ~1% test, rest train. Spelled as FIXED-WIDTH lowercase hex literals so
# the comparison stays a pure string predicate both engines evaluate
# identically (the mix_sample idiom): 41 = 0x029, 82 = 0x052.
SPLIT_VAL_THR = "029"
SPLIT_TEST_THR = "052"


def split_expr(doc_id) -> "tuple[F.Column, F.Column]":
    """(draw, split) columns for a doc_id column — the ONE definition of
    the salted-hash split both the oracled query and the production
    curation job apply (a diverging copy would silently re-split the
    corpus across deployments)."""
    draw = F.substring(
        F.md5(F.concat(F.lit("split:"), doc_id.cast("string"))), 1, 3)
    split = (F.when(draw < SPLIT_VAL_THR, "validation")
             .when(draw < SPLIT_TEST_THR, "test")
             .otherwise("train"))
    return draw, split


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/validation/test by hash.

    The assignment is a pure function of ``doc_id`` (salted md5 draw) —
    re-runs, retries, and later corpus versions agree on the split of
    every surviving document, which is what makes held-out contamination
    auditable. The draw is a scan-stage projection (zero shuffle); the
    per-split size report joins back via a 3-row broadcast, NOT a window
    partitioned by split (a 3-partition window at 10^12 rows would put a
    third of the corpus through each of three tasks)."""
    draw, split = split_expr(F.col("doc_id"))
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id")
            .withColumn("draw", draw)
            .withColumn("split", split))
    sizes = docs.groupBy("split").agg(F.count("*").alias("n_in_split"))
    return (docs.join(F.broadcast(sizes), "split")
            .select("doc_id", "draw", "split", "n_in_split")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Quality-weighted deterministic sampling (importance sampling)
# ---------------------------------------------------------------------------

# Keep probability rises with document length up to a cap — the standard
# "sample long documents preferentially" curation move, here as a pure
# function of (doc_id, n_chars) so retries and resumes agree row-by-row.
WS_CHAR_CAP = 400.0    # n_chars at which keep probability saturates
WS_MIN_KEEP = 0.2      # floor keep probability

# Draw in [0, 1): first 13 hex chars of a salted md5 = 52 bits, an exactly-
# representable double (the KMV mantissa idiom, operators/sketch.py).
# Shared verbatim by both engines.
_WS_DRAW_SQL = (
    "CAST(" + " + ".join(
        f"CAST((instr('0123456789abcdef', substring(md5('ws:' || "
        f"CAST(doc_id AS STRING)), {i + 1}, 1)) - 1) AS BIGINT)"
        f" * {16 ** (12 - i)}"
        for i in range(13)
    ) + " AS DOUBLE) / 4503599627370496.0")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: each doc's keep probability is
    ``max(WS_MIN_KEEP, min(1, n_chars / WS_CHAR_CAP))`` and the draw is
    the md5 idiom of ``mix_sample`` mapped into [0, 1) — a scan-stage
    projection, zero shuffle up to the report aggregation.

    The draw uses the first 13 hex chars = 52 bits, an exactly-
    representable double (the KMV mantissa trick, operators/sketch.py),
    and the weight arithmetic is two exact comparisons plus one division
    of small integers — both engines compute bit-identical keep
    decisions, so the oracle checks per-row agreement, not just counts."""
    w = F.greatest(
        F.lit(WS_MIN_KEEP),
        F.least(F.lit(1.0), F.col("n_chars") / F.lit(WS_CHAR_CAP)))
    draw = F.expr(_WS_DRAW_SQL)
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "lang", "n_chars")
            .withColumn("keep_p", F.round(w, 6))
            .withColumn("kept", (draw < w).cast("int")))
    return (docs.groupBy("lang")
            .agg(F.count("*").alias("n_total"),
                 F.sum("kept").cast("long").alias("n_kept"),
                 F.round(F.sum("keep_p"), 4).alias("expected_kept"),
                 F.sum(F.when(F.col("kept") == 1, F.col("n_chars"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("kept_chars"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
# ---------------------------------------------------------------------------

# Hashed unigram features: md5(token)'s first two nibbles (0..255) % 64
# buckets — 256 is divisible by 64, so the fold stays uniform. The target
# domain stands in for the curated corpus DSIR resamples toward (Wikipedia
# / books in the paper); here it is three of the twenty fixture sources.
DSIR_BUCKETS = 64
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
DSIR_K = 100           # selection budget at fixture scale
_Q20 = 1048576         # 2^20: the fixed-point grid of log-space weights

# bucket_bag's rule in DuckDB SQL, for the oracles
_DSIR_BUCKET_SQL = (
    "CAST(((instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))"
    f" % {DSIR_BUCKETS} AS INT)")


def bucket_bag(text: str | None) -> list[int]:
    """A document's token count per bucket. Tokens are ``(text or
    "").split(" ")``, empty ones kept as ``str_split`` keeps them; a
    token's bucket is the first md5 byte of its UTF-8 bytes, mod 64."""
    bag = [0] * DSIR_BUCKETS
    for tok in (text or "").split(" "):
        bag[md5(tok.encode()).digest()[0] % DSIR_BUCKETS] += 1
    return bag


def _bucket_bag_batches(it):
    """``mapInPandas`` body: :func:`bucket_bag` per document."""
    drop_zip_finders()
    for pdf in it:
        pdf["bag"] = [bucket_bag(t) for t in pdf.pop("text").values]
        yield pdf


def bucket_bags(docs: DataFrame) -> DataFrame:
    """``(doc_id, source, bag array<int>)``: one :func:`bucket_bag` row per
    document, computed in one Python stage."""
    return (widen(docs).select("doc_id", "source", "text")
            .mapInPandas(_bucket_bag_batches,
                         "doc_id long, source string, bag array<int>"))


def _fold_task(width: int, add, rows):
    """``mapPartitions`` body of :func:`fold_bags`: one task's partial."""
    drop_zip_finders()
    acc = [0] * width
    for row in rows:
        add(acc, row)
    yield acc


def fold_bags(rows, width: int, add) -> list[int]:
    """Sum ``width`` integers over an RDD's rows: each task folds its rows
    into one partial vector with ``add(acc, row)`` and the driver adds
    the partials (MLlib's ``treeAggregate`` shape at depth 1), so a pass
    moves one short vector per task and never a document-keyed row."""
    parts = rows.mapPartitions(partial(_fold_task, width, add)).collect()
    return [sum(col) for col in zip(*parts)] if parts else [0] * width


def _draw52_sql(salt: str) -> str:
    """Uniform draw in (0, 1): 52 bits from a salted md5, +0.5 so the
    draw is never exactly 0 (``ln(0)`` would poison a Gumbel transform).
    Shared verbatim by both engines (the ``_WS_DRAW_SQL`` idiom)."""
    return (
        "((" + " + ".join(
            f"CAST((instr('0123456789abcdef', substring(md5('{salt}' || "
            f"CAST(doc_id AS STRING)), {i + 1}, 1)) - 1) AS BIGINT)"
            f" * {16 ** (12 - i)}"
            for i in range(13)
        ) + ") + 0.5) / 4503599627370496.0")


def _add_raw_target(acc: list[int], row) -> None:
    """A bag's raw counts into ``acc[:64]``, target ones into ``acc[64:]``."""
    tgt = row.source in DSIR_TARGET_SOURCES
    for b, c in enumerate(row.bag):
        acc[b] += c
        acc[DSIR_BUCKETS + b] += c * tgt


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: score every document by how much more likely
    its hashed-unigram bag is under the TARGET domain's bucket
    distribution than under the raw corpus's, then draw a Gumbel-top-K
    sample proportional to the importance weights.

    Math (paper's bag-of-hashed-ngrams estimator, add-1 smoothed):
    ``log w(doc) = sum_b count_b(doc) * [ln p_target(b) - ln p_raw(b)]``.
    Gumbel-top-K (key = log w + Gumbel noise) IS sampling-without-
    replacement proportional to ``w`` — one deterministic pass, no
    sequential draws.

    Exactness: the driver quantizes each bucket's log-ratio to the 2^-20
    grid (``floor(x * 2^20 + 0.5)``, libm ``ln`` as in DuckDB), so a doc's
    weight is an INTEGER dot product ``sum(count_b * m_b)`` and its Gumbel
    key lies on the same grid. The one residual cross-engine float op is
    the Gumbel draw's ``ln``: JVM ``Math.log`` tolerates 1 ulp vs libm, so
    a key within 1 ulp of a half-integer could floor differently and flip
    a boundary doc out of the top-K; the two agree bit for bit on x86-64
    Linux (measured; the bm25/unigram_logprob precedent).

    Scale shape: one pass folds the bags (:func:`bucket_bags`) into 128
    bucket totals per task; each weight is computed inside its row, and
    selection is ``TakeOrderedAndProject``: no doc_id-keyed shuffle or
    global window. At a 10^12-doc budget you'd replace the LIMIT with a
    key threshold (keep iff ``key_q20 > cut``)."""
    b = DSIR_BUCKETS
    bags = bucket_bags(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    tot = fold_bags(bags.rdd, 2 * b, _add_raw_target)
    cr, ct = tot[:b], tot[b:]
    t_raw, t_tgt = sum(cr), sum(ct)
    # ln(p_target/p_raw) with add-1 smoothing, as ONE ratio of exact
    # integer products, in the oracle's operation order
    m = [math.floor(math.log(((t + 1.0) * (t_raw + float(b)))
                             / ((r + 1.0) * (t_tgt + float(b))))
                    * _Q20 + 0.5) for r, t in zip(cr, ct)]
    w_q20 = F.aggregate(
        F.zip_with("bag", F.array(*map(F.lit, m)),
                   lambda c, mb: c.cast("long") * mb),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    gumbel = -F.log(-F.log(F.expr(_draw52_sql("dsir:"))))
    return (bags.select("doc_id", "source", w_q20.alias("w_q20"))
            .withColumn("key_q20", (F.col("w_q20") + F.floor(
                gumbel * _Q20 + 0.5).cast("long")).cast("long"))
            .withColumn("logw", F.round(F.col("w_q20") / _Q20, 6))
            .orderBy(F.desc("key_q20"), F.asc("doc_id"))
            .limit(DSIR_K))


# ---------------------------------------------------------------------------
# DuckDB twins (identical constants, interpolated from the same names)
# ---------------------------------------------------------------------------

SAMPLING_ORACLES = {
    "dsir_select": f"""
        WITH toks AS (
          SELECT doc_id, source, unnest(str_split(coalesce(text, ''), ' '))
                 AS tok
          FROM documents),
        tb AS (SELECT doc_id, source, {_DSIR_BUCKET_SQL} AS b FROM toks),
        dist AS (
          SELECT b, count(*) AS cr,
                 sum(CASE WHEN source IN {DSIR_TARGET_SOURCES!r}
                     THEN 1 ELSE 0 END) AS ct
          FROM tb GROUP BY b),
        tot AS (SELECT sum(cr) AS t_raw, sum(ct) AS t_tgt FROM dist),
        m AS (
          SELECT b, CAST(floor(ln(((ct + 1.0) * (t_raw + {float(DSIR_BUCKETS)!r}))
                    / ((cr + 1.0) * (t_tgt + {float(DSIR_BUCKETS)!r})))
                    * {float(_Q20)!r} + 0.5) AS BIGINT) AS m
          FROM dist CROSS JOIN tot),
        db AS (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b),
        w AS (SELECT doc_id, CAST(sum(c * m) AS BIGINT) AS w_q20
              FROM db JOIN m USING (b) GROUP BY doc_id),
        keyed AS (
          SELECT doc_id, w_q20,
                 CAST(w_q20 + CAST(floor(
                   (-ln(-ln({_draw52_sql("dsir:")}))) * {float(_Q20)!r} + 0.5)
                   AS BIGINT) AS BIGINT) AS key_q20
          FROM w)
        SELECT k.doc_id, d.source, k.w_q20, k.key_q20,
               round(k.w_q20 / {float(_Q20)!r}, 6) AS logw
        FROM keyed k JOIN documents d ON d.doc_id = k.doc_id
        ORDER BY k.key_q20 DESC, k.doc_id ASC
        LIMIT {DSIR_K}
    """,
    "weighted_sample": f"""
        WITH d AS (
          SELECT doc_id, lang, n_chars,
                 greatest({WS_MIN_KEEP},
                          least(1.0, n_chars / {WS_CHAR_CAP})) AS w,
                 {_WS_DRAW_SQL} AS draw
          FROM documents)
        SELECT lang,
               count(*) AS n_total,
               CAST(sum(CASE WHEN draw < w THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               round(sum(round(w, 6)), 4) AS expected_kept,
               CAST(sum(CASE WHEN draw < w THEN n_chars ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM d GROUP BY lang ORDER BY lang
    """,
    "split_assign": f"""
        WITH d AS (
          SELECT doc_id,
                 substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 3)
                     AS draw
          FROM documents),
        s AS (
          SELECT doc_id, draw,
                 CASE WHEN draw < '{SPLIT_VAL_THR}' THEN 'validation'
                      WHEN draw < '{SPLIT_TEST_THR}' THEN 'test'
                      ELSE 'train' END AS split
          FROM d),
        sz AS (SELECT split, count(*) AS n_in_split FROM s GROUP BY split)
        SELECT doc_id, draw, split, n_in_split
        FROM s JOIN sz USING (split)
        ORDER BY doc_id
    """,
    "mix_sample": f"""
        WITH c AS (SELECT lang, count(*) AS n_total
                   FROM documents GROUP BY lang),
        k AS (
          SELECT d.lang, d.n_chars, c.n_total,
                 substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS draw,
                 CASE WHEN c.n_total <= {MIX_TARGET_DOCS} THEN 'g'
                      ELSE lower(lpad(hex(CAST(floor(
                        (CAST({MIX_TARGET_DOCS} AS DOUBLE) / c.n_total)
                        * {_HASH_SPACE}) AS BIGINT)), 8, '0'))
                 END AS thr
          FROM documents d JOIN c USING (lang))
        SELECT lang,
               max(n_total) AS n_total,
               count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars
        FROM k WHERE draw < thr
        GROUP BY lang ORDER BY lang
    """,
    "blocklist_filter": f"""
        WITH h AS (
          SELECT doc_id, n_chars,
                 (CASE WHEN doc_id % 3 = 0 THEN 'www'
                       WHEN doc_id % 3 = 1 THEN 'cdn'
                       ELSE 'ads' END)
                 || '.site' || CAST(doc_id % 11 AS VARCHAR)
                 || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.net' END)
                 AS host
          FROM documents),
        d AS (SELECT doc_id, n_chars,
                     regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS domain
              FROM h)
        SELECT domain, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM d
        WHERE domain NOT IN {tuple(BLOCKLIST)!r}
        GROUP BY domain ORDER BY domain
    """,
    "source_terms": f"""
        WITH raw AS (
          SELECT source,
                 unnest({words_sql(
                   "text || ' topic' || substr(source, 4)"
                   " || ' topic' || substr(source, 4)"
                   " || ' niche' || CAST(doc_id % 7 AS VARCHAR)")})
                 AS term
          FROM documents),
        toks AS (SELECT source, term FROM raw
                 WHERE length(term) >= {_MIN_TERM_LEN}
                   AND regexp_matches(term, '{_TERM_RE}')),
        tf AS (SELECT source, term, count(*) AS tf
               FROM toks GROUP BY source, term),
        dfreq AS (SELECT term, count(DISTINCT source) AS df
                  FROM tf GROUP BY term),
        s AS (SELECT count(DISTINCT source) AS n_sources FROM tf),
        scored AS (
          SELECT tf.source, tf.term, tf.tf,
                 CAST(tf.tf * (s.n_sources - dfreq.df) AS BIGINT) AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN s),
        ranked AS (
          SELECT source, term, tf, score,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY score DESC, tf DESC, term ASC)
                 AS rk
          FROM scored)
        SELECT source, term, tf, score, rk
        FROM ranked WHERE rk <= {TOP_TERMS}
        ORDER BY source, rk
    """,
}
