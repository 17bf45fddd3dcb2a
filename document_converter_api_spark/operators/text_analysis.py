"""Text-analysis operators for training-data pipelines over ``documents``:
language ID, quality score, token counting, fingerprinting, the Gopher
quality rules and line/word-n-gram repetition gates, token entropy, BPE
pair statistics, URL normalization and the curation join.

Every operator is Catalyst expressions and aggregates, except
``ngram_repetition``: its signals are a function of one document's text,
so one ``mapInPandas`` stage computes them row by row, and no gram
leaves its document's task.

Each has a DuckDB SQL twin in ``TEXT_ORACLES`` with identical constants.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expressions import lower_expr, words, words_sql
from ..functions.pystage import drop_zip_finders
from .scan import widen

STOPWORDS = {
    "en": ("the", "of", "and", "a", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "a", "en", "un", "ser", "se"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"),
}
LANG_ORDER = ("en", "es", "de")  # deterministic tie-break order
_ALL_STOPS = STOPWORDS["en"] + STOPWORDS["es"] + STOPWORDS["de"]

# BPE-ish segmentation: letter runs, digit runs, or single non-space symbols.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def pred_lang(hits_en, hits_es, hits_de):
    """Argmax over (en, es, de) stopword hits, ties to the earlier
    language (``LANG_ORDER``); ``PRED_LANG_SQL`` is its DuckDB twin."""
    return (F.when((hits_en >= hits_es) & (hits_en >= hits_de), "en")
            .when(hits_es >= hits_de, "es").otherwise("de"))


def with_lang_pred(docs: DataFrame) -> DataFrame:
    """+ ``toks``, ``hits_<lang>``, ``pred_lang`` columns. Tokens and
    per-language hit counts are materialized as columns — an inline
    split/filter subtree would be re-evaluated at every reference
    (higher-order functions get no codegen/CSE): 3 hit filters + the
    argmax reusing them = ~7 full re-tokenizations per row."""
    docs = docs.withColumn("toks", words("text"))
    for lang in LANG_ORDER:
        docs = docs.withColumn(f"hits_{lang}", F.size(F.filter(
            "toks", lambda t: t.isin(*STOPWORDS[lang]))))
    return docs.withColumn("pred_lang", pred_lang(
        *[F.col(f"hits_{lang}") for lang in LANG_ORDER]))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language ID; argmax over (en, es, de) with fixed
    order tie-break; compared against the table's ``lang`` label."""
    docs = with_lang_pred(
        widen(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    return (docs.select(
        "doc_id", "lang", "hits_en", "hits_es", "hits_de", "pred_lang")
        .withColumn("match", (F.col("pred_lang") == F.col("lang")).cast("int"))
        .orderBy("doc_id"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count, mean token length, stopword ratio,
    punctuation density, and a blended 0-1 score."""
    # tokens + counts as materialized columns (see q_lang_id: inline HOF
    # subtrees re-tokenize once per reference — n_tok alone is read 5x here)
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .withColumn("toks", words("text"))
            .withColumn("n_tok", F.size("toks"))
            .withColumn("stop_all", F.size(F.filter(
                "toks", lambda t: t.isin(*_ALL_STOPS))))
            .withColumn("n_punct", F.size(F.regexp_extract_all(
                F.col("text"), F.lit(r"[^\w\s]"), 0))))
    n_tok = F.col("n_tok")
    n_chars = F.length("text")
    n_punct = F.col("n_punct")
    stop_all = F.col("stop_all")
    mean_tok_len = F.round((n_chars - (n_tok - 1)) / n_tok, 4)
    stop_ratio = F.round(stop_all / n_tok, 4)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    score = F.round(
        F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.4
        + F.least(F.lit(1.0), stop_all / F.lit(5.0)) * 0.3
        + (F.lit(1.0) - F.least(F.lit(1.0), n_punct / F.greatest(n_tok, F.lit(1)))) * 0.3,
        4)
    return (docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality"))
        .orderBy("doc_id"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex segment count + chars/token."""
    docs = widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    ws_tokens = F.size(F.split(F.col("text"), r"\s+", -1))
    bpe_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
    return (docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        bpe_tokens.alias("bpe_tokens"),
        F.round(F.length("text") / F.greatest(bpe_tokens, F.lit(1)), 4)
        .alias("chars_per_token"))
        .orderBy("doc_id"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of lowercased, punctuation-stripped,
    whitespace-collapsed text — plus a 16-hex-prefix shard key (how a
    10^12-doc dedup pre-pass buckets the corpus)."""
    docs = widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(lower_expr("text"), r"[^a-z0-9\s]", ""),
        r"\s+", " "))
    fp = F.md5(norm)
    return (docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 2).alias("shard"))
        .orderBy("doc_id"))


def _in_list(vals: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in vals)


_WORDS = words_sql("text")
PRED_LANG_SQL = """CASE WHEN hits_en >= hits_es AND hits_en >= hits_de
    THEN 'en' WHEN hits_es >= hits_de THEN 'es' ELSE 'de' END"""


def stop_hits_sql(tokens: str) -> str:
    """DuckDB twin of ``with_lang_pred``'s ``hits_<lang>`` columns, over
    the SQL list expression ``tokens``."""
    return ", ".join(
        f"len(list_filter({tokens}, x -> x IN ({_in_list(STOPWORDS[lang])})))"
        f" AS hits_{lang}" for lang in LANG_ORDER)


TEXT_ORACLES = {
    "lang_id": f"""
        WITH t AS (
          SELECT doc_id, lang, {stop_hits_sql(_WORDS)} FROM documents)
        SELECT doc_id, lang, hits_en, hits_es, hits_de,
               {PRED_LANG_SQL} AS pred_lang,
               CAST(CASE WHEN ({PRED_LANG_SQL}) = lang THEN 1 ELSE 0 END
                    AS INT) AS match
        FROM t ORDER BY doc_id
    """,
    "quality_score": rf"""
        WITH t AS (
          SELECT doc_id,
            len({_WORDS}) AS n_tok,
            length(text) AS n_chars,
            len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
            len(list_filter({_WORDS},
                x -> x IN ({_in_list(_ALL_STOPS)}))) AS stop_all
          FROM documents)
        SELECT doc_id,
               n_tok AS n_tokens,
               round((n_chars - (n_tok - 1)) / n_tok, 4) AS mean_token_len,
               round(stop_all / n_tok, 4) AS stopword_ratio,
               round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
               round(least(1.0, n_tok / 100.0) * 0.4
                     + least(1.0, stop_all / 5.0) * 0.3
                     + (1.0 - least(1.0, n_punct / greatest(n_tok, 1))) * 0.3,
                     4) AS quality
        FROM t ORDER BY doc_id
    """,
    "token_count": rf"""
        SELECT doc_id,
               len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '{BPE_RE}')) AS bpe_tokens,
               round(length(text) /
                     greatest(len(regexp_extract_all(text, '{BPE_RE}')), 1), 4)
               AS chars_per_token
        FROM documents ORDER BY doc_id
    """,
    "fingerprint": r"""
        WITH n AS (
          SELECT doc_id,
            trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
              '\s+', ' ', 'g')) AS norm
          FROM documents)
        SELECT doc_id, md5(norm) AS fingerprint,
               substring(md5(norm), 1, 2) AS shard
        FROM n ORDER BY doc_id
    """,
}


# Gopher-style quality rule thresholds (Rae et al. 2021, public heuristics).
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2
GOPHER_MAX_MEAN_WORD_LEN = 12
GOPHER_MIN_ALPHA_FRAC = 0.8   # fraction of words containing a letter
GOPHER_MAX_DUP_2GRAM = 0.35   # duplicated-2-gram character-free fraction


def adjacent_bigrams(words, n_words):
    """Adjacent word pairs ("a b") from a words array — the safe O(words)
    build (``zip_with`` over two slices). The ONE definition the gopher
    duplicate-2-gram signal and the BPE pair counter share; see
    ``with_gopher_signals`` for why this must never be written as
    ``transform(sequence, i -> element_at(words, i))``."""
    return F.zip_with(
        F.slice(words, 1, n_words - 1),
        F.slice(words, 2, n_words - 1),
        lambda a, b: F.concat_ws(" ", a, b))


def with_gopher_signals(docs: DataFrame) -> DataFrame:
    """+ ``n_words``, ``mean_word_len``, ``alpha_frac``, ``dup_2gram_frac``,
    ``keep`` columns. The words array is materialized once — every signal
    reads the column instead of re-splitting (HOF subtrees get no
    codegen/CSE).

    The 2-gram build is ``zip_with`` over two slices, NOT
    ``transform(sequence(...), i -> element_at(words, i))``: when this
    helper sits over a non-scan subtree (the curation job feeds it an
    aggregate), CollapseProject can inline ``split(text)`` into the
    lambda, and element-at-indexed access then re-splits the WHOLE text
    once per gram — O(words²) interpreted evals (observed: one 1,300-
    CPU-second task on extracted markdown). ``zip_with`` evaluates each
    array ARGUMENT once per row regardless of inlining, so the worst
    case stays O(words)."""
    docs = (docs
            .withColumn("words", F.split(F.col("text"), " ", -1))
            .withColumn("n_words", F.size("words"))
            .withColumn("alpha_words", F.size(
                F.filter(F.col("words"), lambda w: w.rlike("[A-Za-z]"))))
            .withColumn("grams", F.when(
                F.col("n_words") >= 2,
                adjacent_bigrams(F.col("words"), F.col("n_words")))
                .otherwise(F.array())))
    n = F.col("n_words")
    mean_wl = F.round((F.length("text") - (n - 1)) / n, 4)
    alpha_frac = F.round(F.col("alpha_words") / n, 4)
    n_grams = F.size("grams")
    dup_frac = F.round(
        F.when(n_grams > 0,
               (n_grams - F.size(F.array_distinct("grams"))) / n_grams)
        .otherwise(F.lit(0.0)), 4)
    keep = ((n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
            & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
            & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
            & (dup_frac <= GOPHER_MAX_DUP_2GRAM))
    return (docs.withColumn("mean_word_len", mean_wl)
            .withColumn("alpha_frac", alpha_frac)
            .withColumn("dup_2gram_frac", dup_frac)
            .withColumn("keep", keep.cast("int")))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules, pure Catalyst (no Python):
    word-count bounds, mean word length bounds, alphabetic-word fraction,
    duplicate-2-gram fraction, and the combined keep flag."""
    docs = with_gopher_signals(
        widen(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    return (docs.select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac",
        "dup_2gram_frac", "keep")
        .orderBy("doc_id"))


TEXT_ORACLES["gopher_rules"] = f"""
    WITH t AS (
      SELECT doc_id, text,
             str_split(text, ' ') AS words,
             len(str_split(text, ' ')) AS n_words
      FROM documents),
    g AS (
      SELECT doc_id, text, n_words,
             len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                 AS alpha_words,
             CASE WHEN n_words >= 2 THEN
               list_transform(range(1, n_words),
                              i -> words[i] || ' ' || words[i+1])
             ELSE [] END AS grams
      FROM t),
    s AS (
      SELECT doc_id, n_words,
             round((length(text) - (n_words - 1)) / n_words, 4) AS mean_word_len,
             round(alpha_words / n_words, 4) AS alpha_frac,
             round(CASE WHEN len(grams) > 0 THEN
                     (len(grams) - len(list_distinct(grams))) / len(grams)
                   ELSE 0.0 END, 4) AS dup_2gram_frac
      FROM g)
    SELECT doc_id, n_words, mean_word_len, alpha_frac, dup_2gram_frac,
           CAST(CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                      AND n_words <= {GOPHER_MAX_WORDS}
                      AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                      AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
                      AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
                      AND dup_2gram_frac <= {GOPHER_MAX_DUP_2GRAM}
                 THEN 1 ELSE 0 END AS INT) AS keep
    FROM s ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher line-grain repetition signals)
# ---------------------------------------------------------------------------

REP_LINE = "repeated boilerplate nav line"   # planted into every 4th doc
REP_COPIES = 3


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's line-grain repetition signals per document:
    duplicate-line fraction (occurrences beyond each line's first) and
    the character fraction those duplicate occurrences hold — the signal
    that catches nav/footer boilerplate stamped through a page.

    Plan: one explode into (doc_id, line) counts — the shuffle key
    carries doc_id, so a boilerplate line hot across the corpus is
    spread over its documents (corpus-level hotness is line_dedup's
    keeper-table problem, not this one's) — then a per-doc re-agg on
    uniform doc_id. Counts and char sums are integers; the two divisions
    at the end are the only float ops, so cross-engine parity is exact
    by construction."""
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(did % 4 == 0,
               F.lit(("\n" + REP_LINE) * REP_COPIES)).otherwise(F.lit("")))
    lines = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
             .select("doc_id", planted.alias("text"))
             .select("doc_id",
                     F.explode(F.split("text", "\n", -1)).alias("line"))
             .filter(F.trim("line") != ""))
    per_line = (lines.groupBy("doc_id", "line")
                .agg(F.count("*").alias("c"),
                     F.length("line").alias("len")))
    return (per_line.groupBy("doc_id")
            .agg(F.sum("c").cast("long").alias("n_lines"),
                 F.sum(F.col("c") - 1).cast("long").alias("n_dup_lines"),
                 F.round(F.sum(F.col("c") - 1) / F.sum("c"), 6)
                 .alias("dup_line_frac"),
                 F.round(F.sum((F.col("c") - 1) * F.col("len"))
                         / F.sum(F.col("c") * F.col("len")), 6)
                 .alias("dup_char_frac"))
            .orderBy("doc_id"))


TEXT_ORACLES["doc_repetition"] = f"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0
                          THEN repeat('\n{REP_LINE}', {REP_COPIES})
                          ELSE '' END AS text
      FROM documents),
    lines AS (
      SELECT doc_id, unnest(str_split(text, chr(10))) AS line
      FROM planted),
    nonempty AS (SELECT doc_id, line FROM lines WHERE trim(line) <> ''),
    per_line AS (
      SELECT doc_id, line, count(*) AS c, length(line) AS len
      FROM nonempty GROUP BY doc_id, line)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_lines,
           CAST(sum(c - 1) AS BIGINT) AS n_dup_lines,
           round(CAST(sum(c - 1) AS DOUBLE) / sum(c), 6) AS dup_line_frac,
           round(CAST(sum((c - 1) * len) AS DOUBLE) / sum(c * len), 6)
               AS dup_char_frac
    FROM per_line GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Intra-document n-gram repetition (Gopher word-gram repetition signals)
# ---------------------------------------------------------------------------

# Gopher Table A1 (Rae et al. 2021 §A1.1): a doc fails the repetition gate
# when the most frequent {2,3,4}-gram covers too much of the text, or when
# duplicated {5..10}-grams do. Thresholds are the paper's, in n order.
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)
GOPHER_TOP_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

_NGRAM_COLS = ([f"top{n}_frac" for n in GOPHER_TOP_NS]
               + [f"dup{n}_frac" for n in GOPHER_DUP_NS])
_NGRAM_MAX = [GOPHER_TOP_MAX[n] for n in GOPHER_TOP_NS] + [
    GOPHER_DUP_MAX[n] for n in GOPHER_DUP_NS]
_MICRO = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the double's shortest
    decimal (``BigDecimal(Double.toString(d))``). Python's ``round`` works
    on the exact binary value instead: 5/128 = 0.0390625 gives 0.039062
    there, 0.039063 in Spark and DuckDB."""
    return float(Decimal(repr(x)).quantize(_MICRO, ROUND_HALF_UP))


def ngram_repetition_row(text: str | None) -> list:
    """One document's Gopher word-n-gram repetition signals, in
    ``_NGRAM_COLS`` order, then ``ngram_pass``:

    * ``top{2,3,4}_frac`` — characters covered by the MOST FREQUENT
      n-gram: ``count × length`` of the gram with the largest
      ``(count, count × length)``, so ties go to the larger coverage
      (the ``max(struct(c, cov))`` of the oracle). 0 with fewer than n
      words.
    * ``dup{5..10}_frac`` — characters of the DISTINCT word positions
      covered by any n-gram occurring more than once. Overlapping
      occurrences count each character ONCE, so the fraction is bounded
      by 1 — the semantics Gopher's thresholds are calibrated for (a
      naive ``sum(count × length)`` multiply-counts overlaps, can exceed
      3.0 on a stamped phrase, and silently tightens the gate).
      Character weight is the word's length (joining spaces excluded).
    * ``ngram_pass`` — 1 when no signal exceeds its paper threshold.

    Words are ``text.split(" ")`` with empty words kept (Spark
    ``split(text, ' ', -1)``, DuckDB ``str_split``); lengths are code
    points. Each fraction is over ``len(text)`` (0.0 for an empty text)
    and rounded HALF_UP to 6 places (:func:`_round6`)."""
    text = text or ""
    w = text.split(" ")
    fracs = []
    for n in GOPHER_TOP_NS + GOPHER_DUP_NS:
        grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
        counts = Counter(grams)
        if n in GOPHER_TOP_MAX:
            chars = max(((c, c * len(g)) for g, c in counts.items()),
                        default=(0, 0))[1]
        else:
            covered = set()
            for i, g in enumerate(grams):
                if counts[g] >= 2:
                    covered.update(range(i, i + n))
            chars = sum(len(w[p]) for p in covered)
        fracs.append(_round6(chars / len(text)) if text else 0.0)
    return fracs + [int(all(f <= m for f, m in zip(fracs, _NGRAM_MAX)))]


def _ngram_repetition_batches(it):
    """``mapInPandas`` body: :func:`ngram_repetition_row` per document."""
    drop_zip_finders()
    import pandas as pd

    cols = _NGRAM_COLS + ["ngram_pass"]
    for pdf in it:
        rows = [ngram_repetition_row(t) for t in pdf["text"].values]
        out = pd.DataFrame(rows, columns=cols)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's word-n-gram repetition gate, the grain `doc_repetition`
    (lines) doesn't cover: :func:`ngram_repetition_row` of every
    document, in one Python stage. A document is one row, so no gram
    leaves its task: the plan has no shuffle besides ``widen``'s and the
    final sort's."""
    schema = ", ".join(["doc_id long"]
                       + [f"{c} double" for c in _NGRAM_COLS]
                       + ["ngram_pass int"])
    return (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text")
            .mapInPandas(_ngram_repetition_batches, schema)
            .orderBy("doc_id"))


def _ngram_rep_oracle() -> str:
    gram_selects = []
    for n in GOPHER_TOP_NS + GOPHER_DUP_NS:
        gram_selects.append(f"""
      SELECT doc_id, {n} AS n, i,
             array_to_string(list_slice(w, i, i + {n - 1}), ' ') AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - {n} + 1)) AS i
            FROM base WHERE len(w) >= {n})""")
    top_cols = ",\n             ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN top_chars END), 0)"
        f" AS top{n}_chars" for n in GOPHER_TOP_NS)
    dup_cols = ",\n             ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN dup_chars END), 0)"
        f" AS dup{n}_chars" for n in GOPHER_DUP_NS)
    frac_cols = ",\n           ".join(
        f"CASE WHEN b.n_chars > 0 THEN round("
        f"CAST(coalesce(tw.top{n}_chars, 0) AS DOUBLE) / b.n_chars, 6)"
        f" ELSE 0.0 END AS top{n}_frac" for n in GOPHER_TOP_NS)
    frac_cols += ",\n           " + ",\n           ".join(
        f"CASE WHEN b.n_chars > 0 THEN round("
        f"CAST(coalesce(dw.dup{n}_chars, 0) AS DOUBLE) / b.n_chars, 6)"
        f" ELSE 0.0 END AS dup{n}_frac" for n in GOPHER_DUP_NS)
    fail_terms = [f"top{n}_frac > {GOPHER_TOP_MAX[n]!r}"
                  for n in GOPHER_TOP_NS]
    fail_terms += [f"dup{n}_frac > {GOPHER_DUP_MAX[n]!r}"
                   for n in GOPHER_DUP_NS]
    top_ns = ", ".join(str(n) for n in GOPHER_TOP_NS)
    dup_ns = ", ".join(str(n) for n in GOPHER_DUP_NS)
    return f"""
    WITH base AS (
      SELECT doc_id, length(coalesce(text, '')) AS n_chars,
             str_split(coalesce(text, ''), ' ') AS w
      FROM documents),
    grams AS ({" UNION ALL ".join(gram_selects)}),
    counts AS (
      SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g),
    topn AS (
      SELECT doc_id, n,
             (max(struct_pack(c := c, cov := c * length(g)))).cov
               AS top_chars
      FROM counts WHERE n IN ({top_ns}) GROUP BY doc_id, n),
    dupg AS (
      SELECT doc_id, n, g FROM counts
      WHERE c >= 2 AND n IN ({dup_ns})),
    occ AS (
      SELECT gr.doc_id, gr.n, gr.i
      FROM grams gr JOIN dupg USING (doc_id, n, g)
      WHERE gr.n IN ({dup_ns})),
    cover AS (
      SELECT DISTINCT doc_id, n, pos
      FROM (SELECT doc_id, n,
                   unnest(generate_series(i, i + n - 1)) AS pos
            FROM occ)),
    posw AS (
      SELECT doc_id, pos, length(w[pos]) AS wlen
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w))) AS pos
            FROM base)),
    dchars AS (
      SELECT cv.doc_id, cv.n, sum(p.wlen) AS dup_chars
      FROM cover cv JOIN posw p USING (doc_id, pos)
      GROUP BY cv.doc_id, cv.n),
    tw AS (
      SELECT doc_id,
             {top_cols}
      FROM topn GROUP BY doc_id),
    dw AS (
      SELECT doc_id,
             {dup_cols}
      FROM dchars GROUP BY doc_id),
    gated AS (
      SELECT b.doc_id,
           {frac_cols}
      FROM base b LEFT JOIN tw USING (doc_id) LEFT JOIN dw USING (doc_id))
    SELECT *, CAST(NOT ({" OR ".join(fail_terms)}) AS INT) AS ngram_pass
    FROM gated ORDER BY doc_id
"""



TEXT_ORACLES["ngram_repetition"] = _ngram_rep_oracle()


# ---------------------------------------------------------------------------
# Token-distribution entropy (gibberish / low-diversity detector)
# ---------------------------------------------------------------------------

def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution, in bits,
    plus its normalized form (entropy / log2(n_distinct)) — the
    language-agnostic quality signal that flags both keyword-stuffed
    pages (low entropy: few tokens dominate) and random-gibberish pages
    (normalized entropy ~= 1 with huge vocabularies).

    Plan: one explode to (doc_id, tok) counts — doc_id in the key, so
    corpus-hot tokens spread — then a per-doc re-agg on uniform doc_id;
    both aggregations combine map-side. Float ops are ln on identical
    count ratios, mirrored term-for-term in DuckDB (the unigram_logprob
    precedent), rounded at 4."""
    toks = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id",
                    F.explode(words("text")).alias("tok")))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    ln2 = 0.6931471805599453
    ent = (-F.sum((F.col("c") / F.col("n"))
                  * F.log(F.col("c") / F.col("n"))) / F.lit(ln2))
    return (per_tok
            .withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
            .groupBy("doc_id")
            .agg(F.max("n").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("n_distinct"),
                 F.round(ent, 4).alias("entropy_bits"))
            .withColumn(
                "norm_entropy",
                F.when(F.col("n_distinct") > 1,
                       F.round(F.col("entropy_bits")
                               / (F.log(F.col("n_distinct").cast("double"))
                                  / F.lit(ln2)), 4))
                .otherwise(F.lit(0.0)))
            .orderBy("doc_id"))


TEXT_ORACLES["token_entropy"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok
      FROM documents),
    per_tok AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
    with_n AS (
      SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
      FROM per_tok),
    ent AS (
      SELECT doc_id,
             CAST(max(n) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             round(-sum((c / n) * ln(c / n)) / 0.6931471805599453, 4)
                 AS entropy_bits
      FROM with_n GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct, entropy_bits,
           CASE WHEN n_distinct > 1
                THEN round(entropy_bits
                           / (ln(CAST(n_distinct AS DOUBLE))
                              / 0.6931471805599453), 4)
                ELSE 0.0 END AS norm_entropy
    FROM ent ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE-style pair statistics (the tokenizer-training inner loop)
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent token pairs by corpus frequency — the counting step
    BPE/WordPiece training iterates (count pairs → merge the argmax →
    recount). The merge itself is a greedy sequential rewrite (at scale:
    broadcast the chosen merge and re-tokenize in the Arrow stage); the
    COUNTING is the relational hot loop and is what this operator pins.

    Plan: pairs build as ``zip_with`` over two slices (the O(words)
    idiom — see with_gopher_signals), explode to (pair) rows, ONE
    map-side-combinable groupBy for (corpus count, doc frequency), then
    ``TakeOrderedAndProject`` top-k. The shuffle carries one partial row
    per distinct pair per task — vocabulary-sized, not corpus-sized."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", words("text").alias("w"))
            .withColumn("n", F.size("w"))
            .filter(F.col("n") >= 2))
    pairs = docs.select(
        "doc_id",
        F.explode(adjacent_bigrams(F.col("w"), F.col("n"))).alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count("*").alias("pair_count"),
                 F.countDistinct("doc_id").alias("doc_freq"))
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(BPE_TOP_PAIRS))


TEXT_ORACLES["bpe_pair_stats"] = f"""
    WITH w AS (
      SELECT doc_id, {_WORDS} AS w,
             len({_WORDS}) AS n
      FROM documents),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, n),
                    i -> w[i] || ' ' || w[i+1])) AS pair
      FROM w WHERE n >= 2)
    SELECT pair,
           count(*) AS pair_count,
           count(DISTINCT doc_id) AS doc_freq
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair ASC
    LIMIT {BPE_TOP_PAIRS}
"""


# ---------------------------------------------------------------------------
# URL canonicalization (webtext-pipeline staple: dedup by canonical url)
# ---------------------------------------------------------------------------

# Tracking query parameters that never change page identity; dropping them
# is the first step of url-keyed dedup (same rule in both engines).
TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid)="


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical URL: lowercase scheme+host, strip default ports and
    fragments, drop tracking params, sort the surviving query params.
    Pure Catalyst (regex + array HOFs, zero Python); raw URLs are derived
    deterministically from doc_id so both engines build the same input —
    the oracle checks the operator, not a url generator.

    At 10^12 pages this runs as a projection inside the scan stage; the
    canonical url then keys exact dedup (one digest shuffle) — the reason
    param ORDER must be normalized, not just filtered."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id"))
    raw = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Path/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("?utm_source=feed&b=2&a=1&fbclid=XYZ"))
         .when(F.col("doc_id") % 3 == 1, F.lit("?z=26&gclid=g1&y=25"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#section-2"))
         .otherwise(F.lit("")))
    df = docs.withColumn("raw_url", raw)
    nofrag = F.regexp_replace(F.col("raw_url"), "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, "^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(nofrag, "^[A-Za-z]+://([^/?#]+)", 1)),
        ":(443|80)$", "")
    path = F.regexp_extract(nofrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qstr = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(qstr, "&", -1),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))
    qnorm = F.array_join(F.array_sort(params), "&")
    normalized = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(F.lit("")))
    return (df.select("doc_id", "raw_url",
                      normalized.alias("normalized_url"))
            .orderBy("doc_id"))


TEXT_ORACLES["url_normalize"] = f"""
    WITH r AS (
      SELECT doc_id,
        'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/Path/' || doc_id
        || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1&fbclid=XYZ'
                 WHEN doc_id % 3 = 1 THEN '?z=26&gclid=g1&y=25'
                 ELSE '' END)
        || (CASE WHEN doc_id % 2 = 0 THEN '#section-2' ELSE '' END)
        AS raw_url
      FROM documents),
    n AS (SELECT doc_id, raw_url,
                 regexp_replace(raw_url, '#.*$', '') AS nofrag FROM r),
    parts AS (
      SELECT doc_id, raw_url,
        lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
        regexp_replace(lower(regexp_extract(nofrag,
            '^[A-Za-z]+://([^/?#]+)', 1)), ':(443|80)$', '') AS host,
        regexp_extract(nofrag, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
        regexp_extract(nofrag, '\\?([^#]*)', 1) AS q
      FROM n),
    qs AS (
      SELECT doc_id, raw_url, scheme, host, path,
        array_to_string(list_sort(list_filter(str_split(q, '&'),
          p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))),
          '&') AS qn
      FROM parts)
    SELECT doc_id, raw_url,
           scheme || '://' || host || path
             || (CASE WHEN qn <> '' THEN '?' || qn ELSE '' END)
             AS normalized_url
    FROM qs ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# End-to-end curation recipe (the full training-data pipeline as ONE plan)
# ---------------------------------------------------------------------------

def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard webtext curation recipe as a single DataFrame program:
    exact dedup (canonical = min (doc_id, lang, text) struct per md5 — lang
    and text ride the struct-min, so no join-back) → Gopher quality gate →
    language ID → per-(label, predicted)-language mix report (candidates
    after dedup, survivors after the gate, surviving token volume — the
    numbers a data recipe is tuned by).

    One shuffle for the dedup group-by (on digests), one for the final
    tiny aggregate; all signals are single-pass Catalyst columns. The
    corpus is the same planted-duplicate union the dedup tier uses
    (dedup._corpus), widened to carry the upstream ``lang`` label."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "lang", "text"))
    exact = (docs.filter(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 10000).alias("doc_id"),
                     "lang", "text"))
    near = (docs.filter(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 20000).alias("doc_id"), "lang",
                    F.concat(F.col("text"), F.lit(" extraword"))
                    .alias("text")))
    corpus = docs.unionAll(exact).unionAll(near)
    canon = (widen(corpus)
             .groupBy(F.md5("text").alias("h"))
             .agg(F.min(F.struct("doc_id", "lang", "text")).alias("s"))
             .select("s.doc_id", "s.lang", "s.text"))
    sig = with_lang_pred(with_gopher_signals(canon))
    return (sig.groupBy("lang", "pred_lang")
            .agg(F.count("*").alias("n_candidates"),
                 F.sum("keep").cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("keep") == 1, F.col("n_words"))
                       .otherwise(0)).cast("long").alias("kept_words"))
            .orderBy("lang", "pred_lang"))


TEXT_ORACLES["corpus_curation"] = f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, lang, text FROM documents
      WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 20000 AS doc_id, lang, text || ' extraword' AS text
      FROM documents WHERE doc_id % 7 = 0),
    canon AS (
      SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             arg_min(text, doc_id) AS text
      FROM corpus GROUP BY md5(text)),
    sig AS (
      SELECT doc_id, lang, text,
        len(str_split(text, ' ')) AS n_words,
        round((length(text) - (len(str_split(text, ' ')) - 1))
              / len(str_split(text, ' ')), 4) AS mean_wl,
        round(len(list_filter(str_split(text, ' '),
                  w -> regexp_matches(w, '[A-Za-z]')))
              / len(str_split(text, ' ')), 4) AS alpha_frac,
        round(CASE WHEN len(str_split(text, ' ')) >= 2 THEN
          (len(str_split(text, ' ')) - 1
           - len(list_distinct(list_transform(
               range(1, len(str_split(text, ' '))),
               i -> str_split(text, ' ')[i] || ' '
                    || str_split(text, ' ')[i+1]))))
          / (len(str_split(text, ' ')) - 1) ELSE 0.0 END, 4) AS dup_frac,
        {stop_hits_sql(_WORDS)}
      FROM canon),
    flagged AS (
      SELECT *, {PRED_LANG_SQL} AS pred_lang,
        CASE WHEN n_words >= {GOPHER_MIN_WORDS}
              AND n_words <= {GOPHER_MAX_WORDS}
              AND mean_wl >= {GOPHER_MIN_MEAN_WORD_LEN}
              AND mean_wl <= {GOPHER_MAX_MEAN_WORD_LEN}
              AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
              AND dup_frac <= {GOPHER_MAX_DUP_2GRAM}
             THEN 1 ELSE 0 END AS keep
      FROM sig)
    SELECT lang, pred_lang,
           count(*) AS n_candidates,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep = 1 THEN n_words ELSE 0 END) AS BIGINT)
               AS kept_words
    FROM flagged GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""
