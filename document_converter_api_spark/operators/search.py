"""Relevance-scoring operators over ``documents``: BM25 keyword search and
a hashed-feature linear quality classifier.

Reference parity note: the reference service (``/root/reference/app/
main.py``) converts and stores documents but offers no ranking over them;
these are the retrieval/scoring stages a 100 TB webtext corpus needs for
corpus QA ("which pages match this probe query") and model-based quality
filtering (the fastText/DCLM-classifier shape: hashed bag-of-words ->
linear score -> sigmoid -> keep/drop).

Scale notes per operator:

* ``bm25_search`` — the query's terms are LITERALS, so per-document term
  frequency is a codegen'd array-filter count inside the scan stage: the
  corpus is never exploded into a (doc, term) table and never shuffled on
  a term key (a posting-list build for 3 probe terms over 10^12 docs
  would be the classic accidental-quadratic). The only aggregation is the
  1-row corpus-stats row (N, avgdl, per-term document frequency) — map-
  side combinable, broadcast back via crossJoin — and the final top-k is
  ``TakeOrderedAndProject`` (per-partition heaps, driver merges k rows).
* ``quality_classifier`` — ZERO-shuffle scoring: weights are a pure hash
  of the token (no weights table to distribute), and the per-document sum
  runs as a higher-order ``aggregate(transform(tokens, w), ...)`` inside
  the row — the 10^12-doc plan is a scan-stage projection, nothing else.
  Cross-engine exactness: each weight keeps only the top 20 bits of the
  token's md5, i.e. it is a multiple of 2^-20 bounded by 0.5, so per-doc
  sums stay exactly representable (< 2^33 ulps of 2^-20 needed, double
  has 2^53) and are therefore addition-ORDER-INDEPENDENT — the same
  argument that makes the HLL estimate exact (``operators/sketch.py``).
  The sigmoid is a single exp+divide on bit-identical inputs.

Both have DuckDB twins with identical constants in ``SEARCH_ORACLES``.
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sampling import (_DSIR_BUCKET_SQL, _Q20, DSIR_BUCKETS, bucket_bags,
                       fold_bags)
from .scan import widen

# ---------------------------------------------------------------------------
# BM25 probe-query search
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
QUERY_TERMS = ("vector", "merge", "customer")
BM25_TOP_K = 15


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents for a fixed probe query under BM25 (Robertson
    k1/b form, the idf variant ``ln(1 + (N - df + .5)/(df + .5))``).

    Term frequencies are per-row array-filter counts (no explode, no
    term-keyed shuffle); corpus stats are one broadcast row; the sum over
    query terms is written term-by-term in fixed order so both engines
    add the same doubles in the same sequence."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", F.split("text", " ", -1).alias("toks")))
    for i, t in enumerate(QUERY_TERMS):
        docs = docs.withColumn(
            f"tf_{t}",
            F.size(F.filter("toks", lambda x: x == F.lit(t))).cast("long"))
    docs = docs.withColumn("dl", F.size("toks").cast("long")).drop("toks")

    stats = docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
          for t in QUERY_TERMS])

    scored = docs.crossJoin(F.broadcast(stats))
    norm = (F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B)
               + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")))
    score = None
    for t in QUERY_TERMS:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5))
            / (F.col(f"df_{t}") + F.lit(0.5)))
        term = (idf * F.col(f"tf_{t}") * F.lit(BM25_K1 + 1.0)
                / (F.col(f"tf_{t}") + norm))
        score = term if score is None else score + term
    return (scored.select(
        "doc_id", "dl",
        *[F.col(f"tf_{t}") for t in QUERY_TERMS],
        F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_K))


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier
# ---------------------------------------------------------------------------

# Per-token weight: top 20 bits of md5(token) mapped to [-0.5, 0.5).
# Shared SQL fragment — evaluated by BOTH engines verbatim (same
# instr-on-nibble-alphabet idiom as operators/sketch.py).
_NIB = "'0123456789abcdef'"


def _w_of(var: str) -> str:
    """Weight expression for a token bound to SQL variable ``var``."""
    b20 = " + ".join(
        f"(instr({_NIB}, substring(md5({var}), {i + 1}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(5))
    return f"(CAST({b20} AS DOUBLE) / {float(_Q20)!r} - 0.5)"


SIGMOID_GAIN = 4.0  # mean weight in [-.5,.5) -> logit in [-2, 2)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with a hashed linear model: mean over tokens
    of ``w(token)``, squashed by a sigmoid; ``keep`` = score >= 0.5.

    The weights are pseudo-random-by-hash — the PLUMBING (hashed feature
    lookup, per-row fold, zero shuffle) is the production shape; swapping
    in trained weights means replacing ``_w_of`` with a broadcast map
    lookup, nothing else moves."""
    w_sum = F.expr(
        "aggregate(transform(toks, t -> " + _w_of("t") + "), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", F.split("text", " ", -1).alias("toks"))
            .withColumn("n_toks", F.size("toks").cast("long"))
            .withColumn("w_sum", w_sum))
    mean_w = F.col("w_sum") / F.col("n_toks")
    score = F.lit(1.0) / (F.lit(1.0)
                          + F.exp(-F.lit(SIGMOID_GAIN) * mean_w))
    return (docs.select(
        "doc_id", "n_toks",
        F.round(mean_w, 9).alias("mean_w"),
        F.round(score, 9).alias("quality_p"),
        (score >= 0.5).cast("int").alias("keep"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

def _bm25_oracle() -> str:
    tf_cols = ",\n                 ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in QUERY_TERMS)
    df_cols = ",\n                 ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}" for t in QUERY_TERMS)
    score = " + ".join(
        f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * tf_{t} * {BM25_K1 + 1.0}"
        f" / (tf_{t} + {BM25_K1} * ({1.0 - BM25_B}"
        f" + {BM25_B} * dl / avgdl)))"
        for t in QUERY_TERMS)
    tf_list = ", ".join(f"tf_{t}" for t in QUERY_TERMS)
    return f"""
        WITH d AS (
          SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        t AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS dl,
                 {tf_cols}
          FROM d),
        s AS (
          SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                 {df_cols}
          FROM t)
        SELECT doc_id, dl, {tf_list}, round({score}, 6) AS bm25
        FROM t, s
        -- order by the ROUNDED score exactly as the Spark side does:
        -- ordering one engine by raw and the other by rounded could pick
        -- different members when near-ties straddle the LIMIT boundary
        ORDER BY round({score}, 6) DESC, doc_id
        LIMIT {BM25_TOP_K}
    """


SEARCH_ORACLES = {
    "bm25_search": _bm25_oracle(),
    "quality_classifier": f"""
        WITH d AS (
          SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        folded AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_toks,
                 list_sum(list_transform(toks, t -> {_w_of('t')})) AS w_sum
          FROM d)
        SELECT doc_id, n_toks,
               round(w_sum / n_toks, 9) AS mean_w,
               round(1.0 / (1.0 + exp(-{SIGMOID_GAIN} * (w_sum / n_toks))), 9)
                   AS quality_p,
               CASE WHEN 1.0 / (1.0 + exp(-{SIGMOID_GAIN} * (w_sum / n_toks)))
                         >= 0.5
                    THEN 1 ELSE 0 END AS keep
        FROM folded ORDER BY doc_id
    """,
}


# ---------------------------------------------------------------------------
# Quality-classifier TRAINING: logistic-regression gradient descent on bags
# ---------------------------------------------------------------------------

# Shares the hashed-unigram bags and the target-domain label with
# dsir_select (operators/sampling.py): DSIR reweights toward the target,
# this TRAINS the fastText/DCLM-style classifier of quality_classifier.
LR_ROUNDS = 3
LR_TARGET_SOURCES = ("src0", "src1", "src2")


def _add_doc(acc: list[int], row) -> None:
    """Token count per bucket in ``acc[:64]``, documents in ``acc[64]``."""
    for b, c in enumerate(row[1]):
        acc[b] += c
    acc[DSIR_BUCKETS] += 1


def _add_gradient(w: list[int], acc: list[int], row) -> None:
    """One ``(y, bag)`` row's gradient terms on the 2^-20 grid under ``w``."""
    y, bag = row
    z = sum(c * wb for c, wb in zip(bag, w))
    try:
        r = 1.0 / (1.0 + math.exp(-(z / _Q20))) - y
    except OverflowError:  # exp is +inf, as in the JVM and DuckDB: p = 0
        r = 0.0 - y
    for b, c in enumerate(bag):
        if c:
            acc[b] += math.floor(c * r * _Q20 + 0.5)


def q_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier TRAINING: ``LR_ROUNDS`` rounds of full-batch
    logistic-regression gradient descent over hashed-unigram bags, labels
    = target-domain membership; returns the learned weight of each bucket
    present in the corpus. Every cross-engine comparison stays exact:

    * weights live on the integer 2^-20 grid; the per-doc logit is an
      INTEGER dot product ``sum(c_b * w_b)``, scaled by exactly 2^-20;
    * the sigmoid is one libm ``exp`` (DuckDB's), exactly 0.5 in round 1;
    * per-(doc, bucket) gradient terms quantize to the grid
      (``floor(c·r·2^20 + .5)``) BEFORE the bucket sum, so accumulation
      is an addition-order-independent integer sum;
    * the step is an exact integer floor division by n_docs (lr = 1/N).

    Scale shape: the bags (:func:`bucket_bags`) are cached for the
    query's passes and unpersisted before it returns. One pass counts
    documents and tokens per bucket; each round is one more pass with the
    64 weights in its closure (:func:`fold_bags`), moving 64 integers per
    task to the driver and never a document-keyed row."""
    yb = (bucket_bags(spark.read.parquet(f"{sf_dir}/documents.parquet")).rdd
          .map(lambda r: (int(r.source in LR_TARGET_SOURCES), r.bag))
          .cache())
    try:
        *tokens, n = fold_bags(yb, DSIR_BUCKETS + 1, _add_doc)
        w = [0] * DSIR_BUCKETS
        for _ in range(LR_ROUNDS if n else 0):  # no documents, no gradient
            g = fold_bags(yb, DSIR_BUCKETS, partial(_add_gradient, w))
            w = [wb - gb // n for wb, gb in zip(w, g)]
    finally:
        yb.unpersist()
    return spark.createDataFrame(
        [(b, w[b], w[b] / _Q20) for b in range(DSIR_BUCKETS) if tokens[b]],
        "b int, w_q20 long, w double")


def _logreg_oracle() -> str:
    tgt = str(LR_TARGET_SOURCES)
    fd = ("CAST((({g}) - (((({g}) % n) + n) % n)) / n AS BIGINT)")
    rounds = []
    for k in range(1, LR_ROUNDS):
        rounds.append(f"""
    z{k} AS (
      SELECT t.doc_id, sum(t.c * w.w_q20) AS zint
      FROM tb t JOIN w{k} w USING (b) GROUP BY t.doc_id),
    res{k} AS (
      SELECT y.doc_id,
             1.0 / (1.0 + exp(-(CAST(coalesce(z.zint, 0) AS DOUBLE)
                                / {_Q20}))) - y.y AS r
      FROM yy y LEFT JOIN z{k} z ON z.doc_id = y.doc_id),
    g{k + 1} AS (
      SELECT t.b,
             sum(CAST(floor(t.c * r.r * {_Q20} + 0.5) AS BIGINT)) AS g
      FROM tb t JOIN res{k} r USING (doc_id) GROUP BY t.b),
    w{k + 1} AS (
      SELECT w.b,
             w.w_q20 - {fd.format(g=f"coalesce(g.g, 0)")} AS w_q20
      FROM w{k} w LEFT JOIN g{k + 1} g USING (b) CROSS JOIN nn)""")
    return f"""
    WITH docs AS (
      SELECT doc_id, source, coalesce(text, '') AS text FROM documents),
    toks AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM docs),
    tb AS (
      SELECT doc_id, {_DSIR_BUCKET_SQL} AS b, count(*) AS c
      FROM (SELECT doc_id, tok FROM toks)
      GROUP BY doc_id, {_DSIR_BUCKET_SQL}),
    yy AS (
      SELECT doc_id, CASE WHEN source IN {tgt} THEN 1 ELSE 0 END AS y
      FROM docs),
    nn AS (SELECT count(*) AS n FROM docs),
    g1 AS (
      SELECT t.b,
             sum(CAST(floor(t.c * (0.5 - y.y) * {_Q20} + 0.5) AS BIGINT))
               AS g
      FROM tb t JOIN yy y USING (doc_id) GROUP BY t.b),
    w1 AS (
      SELECT b, -({fd.format(g="g")}) AS w_q20
      FROM g1 CROSS JOIN nn),{",".join(rounds)}
    SELECT b, CAST(w_q20 AS BIGINT) AS w_q20,
           CAST(w_q20 AS DOUBLE) / {_Q20} AS w
    FROM w{LR_ROUNDS} ORDER BY b
"""


SEARCH_ORACLES["logreg_train"] = _logreg_oracle()
