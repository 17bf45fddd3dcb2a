"""Curation-tier operators a large-scale training-data pipeline needs
beyond dedup/quality/lang-ID: PII redaction, benchmark decontamination,
token-budget shard packing, Unicode normalization, unigram-LM quality
scoring, and mojibake (double-encoded UTF-8) repair.

Reference parity note: the reference service (``/root/reference/app/main.py``)
stops at per-document conversion; these stages are the corpus-level
post-processing a 100 TB webtext pipeline runs downstream of extraction
(GPT-3 App. A decontamination, CCNet LM scoring, RefinedWeb PII pass).

Scale notes per operator:

* ``pii_redact`` — pure Catalyst ``regexp_count``/``regexp_replace`` chains
  (WholeStageCodegen; zero Python, zero shuffle beyond the input widen).
* ``decontaminate`` — the benchmark set is SMALL by construction (eval
  suites are thousands of n-grams, not billions) → distinct + broadcast;
  the corpus side explodes its 13-grams and broadcast-semi-joins, so the
  only data-sized shuffle is the per-doc hit re-aggregation, keyed by
  ``doc_id`` (uniform — no skew: a doc contributes at most |words| grams).
* ``token_pack`` — a GLOBAL running sum done scalably: per-group partial
  sums (one row per ~G docs) are collected (tiny by construction, the same
  contract as the IVF codebook), turned into exclusive prefix offsets, and
  broadcast-joined back; the window cumsum then runs per-group, so no
  ``Exchange SinglePartition`` / single-task global window ever appears.
* ``unicode_normalize`` — Arrow-batched pandas normalization (the one stage
  Catalyst genuinely cannot express; ``pandas.Series.str.normalize`` is a
  C-loop over the batch, not per-row Python round trips).
* ``mojibake_repair`` — literal-alternation ``regexp_count`` plus a fixed
  ``replace`` chain, one codegen projection over the scan (zero shuffle).
* ``unigram_logprob`` — vocabulary built with a map-side-combinable
  ``groupBy(tok)``; doc scoring pre-aggregates ``(doc_id, tok)`` counts so
  hot tokens are spread across docs before the vocab join (broadcast here;
  at an unbounded-vocab scale the standard split is broadcast top-K +
  shuffle-join the tail — documented, fixture vocab is bounded).

Every operator has a DuckDB twin with identical constants in
``CURATION_ORACLES``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scan import widen

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Shared regex constants — interpolated verbatim into both engines.
# (RE2/DuckDB and java.util.regex agree on this subset: classes, bounded
# repetition, \b word boundaries.)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII spans (fixture text is clean word salad;
    the planted spans are the ground truth both engines must find)."""
    did = F.col("doc_id")
    return docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(
            F.lit(" call 415-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" host 10."), (did % 256).cast("string"),
            F.lit(".0."), ((did * 7) % 256).cast("string"))).otherwise(F.lit("")),
    ))


def redact_expr(col) -> "F.Column":
    """The PII redaction chain — the ONE definition both the oracled
    query and the production curation job apply. Replacement order is
    significant and pinned (email first — its local part may contain
    digits; the ``<EMAIL>``/``<PHONE>`` placeholders contain no digits,
    so later patterns cannot match across an earlier redaction)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>"),
        IP_RE, "<IP>")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails / NANP phones / IPv4 addresses.

    Pure Catalyst: three ``regexp_count`` + the shared ``redact_expr``
    chain, all inside one codegen stage."""
    docs = _plant_pii(
        widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        .select("doc_id", "text"))
    redacted = redact_expr(F.col("text"))
    return (docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(IP_RE)).cast("long").alias("n_ips"),
        redacted.alias("redacted"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Benchmark decontamination (13-gram overlap, GPT-3 App. A style)
# ---------------------------------------------------------------------------

NGRAM_N = 13
BENCH_MOD = 50  # every 50th doc's opening 13-gram stands in for an eval set


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag documents sharing any 13-gram with the benchmark set.

    The benchmark n-gram table is distinct'd and BROADCAST (eval suites are
    small by nature; the plan must never shuffle the corpus against them).
    Corpus docs explode into their 13-grams lazily under a ``size >= 13``
    guard (Spark's ``sequence(1, n)`` with ``n < 1`` counts DOWN — the CASE
    guard is load-bearing, not cosmetic), hit counts re-aggregate on
    ``doc_id``."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text"))
    words = docs.withColumn("w", F.split("text", " ", -1))
    bench = (words
             .filter((F.col("doc_id") % BENCH_MOD == 0)
                     & (F.size("w") >= NGRAM_N))
             .select(F.array_join(F.slice("w", 1, NGRAM_N), " ").alias("ng"))
             .distinct())
    grams = words.select(
        "doc_id",
        F.explode(
            F.when(F.size("w") >= NGRAM_N,
                   F.transform(
                       F.sequence(F.lit(1), F.size("w") - (NGRAM_N - 1)),
                       lambda i: F.array_join(F.slice("w", i, NGRAM_N), " ")))
            .otherwise(F.array().cast("array<string>"))).alias("ng"))
    hits = (grams.join(F.broadcast(bench), "ng")
            .groupBy("doc_id").agg(F.count("*").alias("n")))
    return (docs.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n_hits"),
                    (F.coalesce("n", F.lit(0)) > 0).cast("int")
                    .alias("contaminated"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Token-budget shard packing (sequence packing for training shards)
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048   # tokens per shard
PACK_GROUP = 64      # docs per leaf prefix-sum group (one window partition)
PACK_MAX_GROUPS = 4096  # fan-in cap: max rows collected OR windowed per task


def _group_offsets(sums: DataFrame,
                   max_groups: int = PACK_MAX_GROUPS) -> DataFrame:
    """Exclusive prefix sum over per-group token totals ``(grp, t)`` →
    ``(grp, grp_offset)``, never moving more than ``max_groups`` rows
    through any single point (driver collect or window partition).

    Recursive tree: if the table fits the cap, prefix-sum on the driver
    (base case — one bounded collect). Otherwise fold each run of
    ``max_groups`` consecutive grps into a super-group, recurse for the
    super-group offsets, and add a within-super exclusive window cumsum
    whose partitions hold <= ``max_groups`` rows by construction. Depth is
    ``log_cap(N / PACK_GROUP)``: 3 levels at 10^12 docs, and the driver
    only ever receives the <= 4096-row root — round 2 collected one row
    per 64 docs (~1.6e10 rows at that scale), a guaranteed driver OOM."""
    spark = sums.sparkSession
    if sums.count() <= max_groups:
        rows = sorted(sums.collect(), key=lambda r: r["grp"])
        offsets, acc = [], 0
        for r in rows:
            offsets.append((r["grp"], acc))
            acc += r["t"]
        return spark.createDataFrame(offsets, "grp long, grp_offset long")
    sup = sums.withColumn("sup", F.floor(F.col("grp") / max_groups))
    sup_sums = (sup.groupBy("sup").agg(F.sum("t").alias("t"))
                .withColumnRenamed("sup", "grp"))
    sup_off = (_group_offsets(sup_sums, max_groups)
               .withColumnRenamed("grp", "sup")
               .withColumnRenamed("grp_offset", "sup_offset"))
    w = (Window.partitionBy("sup").orderBy("grp")
         .rowsBetween(Window.unboundedPreceding, -1))
    # join clusters by sup; the window reuses that distribution — one
    # Exchange per level, each partition <= max_groups rows
    return (sup.join(sup_off, "sup")
            .withColumn("grp_offset",
                        F.col("sup_offset")
                        + F.coalesce(F.sum("t").over(w), F.lit(0)))
            .select("grp", "grp_offset"))


def ordered_prefix_sum(df: DataFrame, key_col: str, val_col: str,
                       out_col: str = "cum_before",
                       parts: int | None = None,
                       max_groups: int = PACK_MAX_GROUPS) -> DataFrame:
    """Exclusive running sum of ``val_col`` in ``key_col`` order — for
    keys with no numeric group structure (strings) — without ever
    planning an unpartitioned window (``Exchange SinglePartition``, the
    whole table through one task).

    Shape: ``repartitionByRange(parts, key)`` gives monotone physical
    partitions; ``spark_partition_id()`` is then an order-aligned group
    id, per-group totals fold through the same fan-in-``max_groups``
    recursive tree ``q_token_pack`` uses (``_group_offsets``), and a
    PER-GROUP window cumsum adds the within-group part. No single task,
    window partition, or driver collect sees more than
    ``max(rows/parts, max_groups)`` rows; at 10^8 host keys and
    ``parts=4096`` that is ~25k rows per window partition.

    ``localCheckpoint`` pins the range partitioning: the grouped frame
    is consumed TWICE (totals + the window join), and
    ``repartitionByRange`` boundaries come from sampling, so without
    materialization the two executions could disagree on partition ids
    and the offsets would join against the wrong groups
    (``spark_partition_id`` is only meaningful on a materialized
    distribution). On a production cluster prefer a reliable
    ``checkpoint()``/persisted table if executor loss mid-job matters —
    a recomputed localCheckpoint partition could in principle resample.

    ``parts`` defaults to the session's default parallelism; size it to
    ~N/500k rows at scale (the tree handles ``parts > max_groups``)."""
    spark = df.sparkSession
    n_parts = parts or spark.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(n_parts, key_col)
              .withColumn("grp", F.spark_partition_id().cast("long"))
              .localCheckpoint())
    sums = ranged.groupBy("grp").agg(F.sum(val_col).alias("t"))
    offs = _group_offsets(sums, max_groups)
    w = (Window.partitionBy("grp").orderBy(key_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (ranged.join(offs, "grp")
            .withColumn(out_col,
                        F.col("grp_offset")
                        + F.coalesce(F.sum(val_col).over(w), F.lit(0)))
            .drop("grp", "grp_offset"))


def q_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs (in ``doc_id`` order) to fixed-token-budget training
    shards: ``shard_id = floor(tokens_before_doc / PACK_BUDGET)``.

    The global running sum is a scalable prefix-sum TREE: (1) per-group
    token totals (one row per PACK_GROUP docs) are reduced through
    ``_group_offsets`` — a recursive fold with fan-in PACK_MAX_GROUPS, so
    no single task or driver collect ever sees more than 4096 rows at any
    corpus size; (2) the exclusive group offsets join back and add to a
    PER-GROUP window cumsum. A naive ``Window.orderBy("doc_id")`` with no
    partition key would plan ``Exchange SinglePartition`` — the whole
    corpus through one task; ``tests/test_plans.py`` pins its absence.

    The (doc_id, n_toks, grp) projection is PERSISTED before phase 1: both
    phases need it, and without the persist each re-runs the expensive
    ``split(text)`` over the full corpus (measured 2x the query cost at
    sf0.1). The persisted form is three longs per doc — ~24 bytes/doc, so
    even at 10^12 docs it is ~24 TB spread across the fleet's
    MEMORY_AND_DISK tiers, vs re-scanning 100 TB of text. The cache is
    deliberately left for LRU/session end rather than unpersisted here:
    the returned DataFrame still references it lazily, and an eager
    unpersist would silently reintroduce the double text scan; a
    long-lived session running many jobs should unpersist after the
    consuming action completes."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id",
                    F.size(F.split("text", " ", -1)).cast("long")
                    .alias("n_toks")))
    return (assign_shards(docs)
            .select("doc_id", "n_toks", "cum_toks", "shard_id")
            .orderBy("doc_id"))


def assign_shards(docs: DataFrame, budget: int = PACK_BUDGET,
                  group: int = PACK_GROUP, persist: bool = True,
                  max_groups: int = PACK_MAX_GROUPS) -> DataFrame:
    """Two-phase global prefix sum over a (doc_id, n_toks) table; adds
    ``cum_toks`` and ``shard_id`` columns. Shared by the oracled
    ``token_pack`` query and the curation job's --pack stage — the shard
    assignment both produce for the same input is identical by
    construction.

    ``persist`` caches the grouped projection so the two phases don't
    recompute the upstream DAG twice (see q_token_pack's cache-lifecycle
    note). Pass ``persist=False`` when the INPUT is already persisted
    (the curate job's case): caching again would pin a second full copy
    of the rows — including text payloads — that no finally block
    releases."""
    grouped = docs.withColumn("grp", F.floor(F.col("doc_id") / group))
    if persist:
        grouped = grouped.persist()
    off = _group_offsets(
        grouped.groupBy("grp").agg(F.sum("n_toks").alias("t")),
        max_groups=max_groups)
    w = (Window.partitionBy("grp").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (F.sum("n_toks").over(w) + F.col("grp_offset")).alias("cum_toks")
    # no broadcast hint: at fixture scale AQE converts this to a broadcast
    # join at runtime; at 10^12 docs `off` has N/PACK_GROUP rows and MUST
    # shuffle on grp — which the window needs anyway, so it costs no
    # additional Exchange
    out = grouped.join(off, "grp").withColumn("cum_toks", cum)
    return out.withColumn(
        "shard_id",
        F.floor((F.col("cum_toks") - F.col("n_toks")) / F.lit(float(budget)))
        .cast("long")).drop("grp", "grp_offset")


# ---------------------------------------------------------------------------
# Unicode normalization (NFC)
# ---------------------------------------------------------------------------

# Decomposed suffix planted into every 6th doc: 'e' + U+0301, 'n' + U+0303.
DECOMP_SUFFIX = " cafe\u0301 jalapen\u0303o"


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalize text; report per-doc codepoint shrink.

    Catalyst has no normalization expression, so this is the legitimate
    Arrow path: one ``pandas_udf`` whose body is a single
    ``Series.str.normalize`` call over the whole batch (C loop, no per-row
    Python). Oracle: DuckDB's ``nfc_normalize``."""
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    did = F.col("doc_id")
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text")
            .withColumn("text", F.concat(
                F.col("text"),
                F.when(did % 6 == 0, F.lit(DECOMP_SUFFIX))
                .otherwise(F.lit("")))))
    out = docs.withColumn("norm_text", nfc(F.col("text")))
    return (out.select(
        "doc_id",
        F.length("text").cast("long").alias("n_cp_raw"),
        F.length("norm_text").cast("long").alias("n_cp_norm"),
        (F.col("norm_text") != F.col("text")).cast("int").alias("changed"),
        "norm_text")
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------

def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each doc by mean token log-probability under the corpus's own
    unigram LM (the relational form of CCNet's LM-perplexity filter).

    Three keyed shuffles, all skew-safe: (1) vocab ``groupBy(tok)`` —
    map-side partial agg absorbs hot tokens; (2) per-(doc, tok) counts —
    the doc_id in the key spreads hot tokens across the corpus; (3) per-doc
    score re-agg on uniform ``doc_id``. The total sums the vocab aggregate,
    so the plan runs the ``groupBy(tok)`` exchange twice (four hash
    Exchanges in the plan). The corpus-total is a 1-row
    aggregate broadcast via crossJoin (never ``collect``-ed into the plan);
    the vocab join is broadcast here — with an unbounded vocabulary the
    standard split is broadcast top-K + shuffle-join the tail."""
    toks = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", F.explode(F.split("text", " ", -1)).alias("tok")))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("t"))
    dt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    scored = (dt.join(F.broadcast(vocab), "tok")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.sum("c").cast("long").alias("n_toks"),
                   (F.sum(F.col("c") * F.log(F.col("cnt") / F.col("t")))
                    / F.sum("c")).alias("lp")))
    return (scored.select(
        "doc_id", "n_toks", F.round("lp", 4).alias("avg_logp"))
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Context-length bucketing (training-batch padding-waste report)
# ---------------------------------------------------------------------------

# Token-count bucket upper bounds, sized to the fixture's 10-99-token
# distribution so all five bins (incl. overflow) populate; production
# context-length edges (512/1k/2k/4k) drop in without code changes.
LB_BUCKET_EDGES = (24, 48, 72, 96)


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket documents by token count into training context-length bins
    and report the padding waste of batching each bin to its upper bound
    — the report that decides sequence-packing vs plain padded batching.

    ``padding_waste_pct = (bucket_cap * n_docs - sum_tokens) /
    (bucket_cap * n_docs)``; the top (unbounded) bin pads to its own max.
    Pure Catalyst: one codegen'd bucket projection, one
    map-side-combinable aggregation over <=5 groups (the partial rows per
    task are bounded by the bin count, so a 10^12-doc corpus still moves
    ~5 rows per map task through the shuffle)."""
    edges = list(LB_BUCKET_EDGES)
    nt = F.col("n_toks")
    bucket = F.when(nt <= edges[0], F.lit(edges[0]))
    for e in edges[1:]:
        bucket = bucket.when(nt <= e, F.lit(e))
    bucket = bucket.otherwise(F.lit(0))   # 0 = overflow bin, pads to max
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select(F.size(F.split("text", " ", -1)).cast("long")
                    .alias("n_toks"))
            .withColumn("bucket", bucket.cast("long")))
    agg = (docs.groupBy("bucket")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_toks").cast("long").alias("sum_tokens"),
                F.max("n_toks").cast("long").alias("max_tokens")))
    pad_cap = (F.when(F.col("bucket") > 0, F.col("bucket"))
               .otherwise(F.col("max_tokens")))
    waste = (pad_cap * F.col("n_docs") - F.col("sum_tokens"))
    return (agg.select(
        "bucket", "n_docs", "sum_tokens", "max_tokens",
        waste.cast("long").alias("padded_waste_tokens"),
        F.round(waste * 100.0 / (pad_cap * F.col("n_docs")), 4)
        .alias("waste_pct"))
        .orderBy("bucket"))


# ---------------------------------------------------------------------------
# Overlapping chunking (RAG-prep sliding windows)
# ---------------------------------------------------------------------------

CHUNK_W = 40      # words per chunk
CHUNK_STRIDE = 30 # stride < width -> 25% overlap between neighbors


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap — the retrieval-prep cousin
    of the reference's contiguous ``chunk_text`` (F4): windows of
    ``CHUNK_W`` words every ``CHUNK_STRIDE``, so neighboring chunks share
    ``CHUNK_W - CHUNK_STRIDE`` words of context. One row per chunk.

    Plan: the chunk index set is ``sequence(0, n_chunks-1)`` — a few
    dozen elements per doc, NOT per-word — and each lambda invocation
    slices the materialized words column, so the build is O(words) per
    doc. Explode fans out to chunk rows; everything stays JVM-side."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", F.split("text", " ", -1).alias("w"))
            .withColumn("n", F.size("w")))
    n_chunks = F.when(
        F.col("n") <= CHUNK_W, F.lit(1)
    ).otherwise(
        F.ceil((F.col("n") - CHUNK_W) / F.lit(float(CHUNK_STRIDE))) + 1)
    chunks = docs.select(
        "doc_id", "n",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - 1),
            lambda i: F.array_join(
                F.slice("w", i * CHUNK_STRIDE + 1, CHUNK_W), " ")))
        .alias("chunk_idx", "chunk"))
    return (chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(F.split("chunk", " ", -1)).cast("long").alias("chunk_words"),
        F.md5("chunk").alias("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"))


# ---------------------------------------------------------------------------
# Mojibake (double-encoded UTF-8) detection and repair
# ---------------------------------------------------------------------------

# The classic Latin-1-reread-as-UTF-8 artifacts a web crawl accumulates:
# each pair is (mojibake form, intended character). Planted into every 7th
# doc so both engines see the same ground truth.
MOJIBAKE_MAP = (
    ("Ã©", "é"),          # Ã©  -> é
    ("â€™", "’"),    # â€™ -> ’
    ("Ã¯", "ï"),          # Ã¯  -> ï
)
MOJI_SUFFIX = (" cafÃ© donâ€™t"
               " naÃ¯ve")
_MOJI_ALT = "|".join(m for m, _ in MOJIBAKE_MAP)


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and repair double-encoded UTF-8 (mojibake) spans.

    Pure Catalyst: one ``regexp_count`` over a literal alternation plus a
    fixed ``replace`` chain, all inside the scan's codegen stage — the
    100 TB path is a shuffle-free projection. Replacement order follows
    ``MOJIBAKE_MAP`` and is pinned in both engines (the three patterns are
    mutually non-overlapping, so order cannot change the result — pinned
    anyway so the plan text is deterministic)."""
    did = F.col("doc_id")
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text")
            .withColumn("text", F.concat(
                F.col("text"),
                F.when(did % 7 == 0, F.lit(MOJI_SUFFIX))
                .otherwise(F.lit("")))))
    fixed = F.expr(_moji_fix_sql("text"))
    return (docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_MOJI_ALT)).cast("long")
        .alias("n_moji"),
        fixed.alias("repaired"),
        (fixed != F.col("text")).cast("int").alias("changed"))
        .orderBy("doc_id"))


def _moji_fix_sql(col: str) -> str:
    """Nested replace() chain over ``col`` — same text in both engines."""
    expr = col
    for moji, real in MOJIBAKE_MAP:
        expr = f"replace({expr}, '{moji}', '{real}')"
    return expr


# ---------------------------------------------------------------------------
# DuckDB oracles — identical constants, interpolated from the same names
# ---------------------------------------------------------------------------

_PLANT_PII_SQL = """
      SELECT doc_id, text ||
        CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
             CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        CASE WHEN doc_id % 4 = 0 THEN ' call 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        CASE WHEN doc_id % 5 = 0 THEN ' host 10.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS text
      FROM documents
"""

CURATION_ORACLES = {
    "pii_redact": f"""
        WITH planted AS ({_PLANT_PII_SQL})
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT)
              AS n_emails,
          CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT)
              AS n_phones,
          CAST(len(regexp_extract_all(text, '{IP_RE}')) AS BIGINT) AS n_ips,
          regexp_replace(regexp_replace(regexp_replace(
              text, '{EMAIL_RE}', '<EMAIL>', 'g'),
              '{PHONE_RE}', '<PHONE>', 'g'),
              '{IP_RE}', '<IP>', 'g') AS redacted
        FROM planted ORDER BY doc_id
    """,
    "decontaminate": f"""
        WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        bench AS (
          SELECT DISTINCT array_to_string(w[1:{NGRAM_N}], ' ') AS ng
          FROM w WHERE doc_id % {BENCH_MOD} = 0 AND len(w) >= {NGRAM_N}),
        grams AS (
          SELECT doc_id, unnest(list_transform(
              range(1, len(w) - {NGRAM_N - 2}),
              i -> array_to_string(list_slice(w, i, i + {NGRAM_N - 1}), ' ')))
              AS ng
          FROM w WHERE len(w) >= {NGRAM_N}),
        hits AS (
          SELECT doc_id, count(*) AS n FROM grams
          JOIN bench USING (ng) GROUP BY doc_id)
        SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
               CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END
                   AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
    """,
    "token_pack": f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST(len(str_split(text, ' ')) AS BIGINT) AS n_toks
          FROM documents),
        cum AS (
          SELECT doc_id, n_toks,
                 CAST(sum(n_toks) OVER (ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_toks
          FROM toks)
        SELECT doc_id, n_toks, cum_toks,
               CAST(floor((cum_toks - n_toks) / {float(PACK_BUDGET)})
                    AS BIGINT) AS shard_id
        FROM cum ORDER BY doc_id
    """,
    "unicode_normalize": f"""
        WITH planted AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 6 = 0
                              THEN '{DECOMP_SUFFIX}' ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_cp_raw,
               CAST(length(nfc_normalize(text)) AS BIGINT) AS n_cp_norm,
               CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END
                   AS changed,
               nfc_normalize(text) AS norm_text
        FROM planted ORDER BY doc_id
    """,
    "unigram_logprob": """
        WITH toks AS (
          SELECT doc_id, unnest(str_split(text, ' ')) AS tok
          FROM documents),
        vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        total AS (SELECT sum(cnt) AS t FROM vocab),
        dt AS (SELECT doc_id, tok, count(*) AS c FROM toks
               GROUP BY doc_id, tok)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
               round(sum(c * ln(cnt / t)) / sum(c), 4) AS avg_logp
        FROM dt JOIN vocab USING (tok) CROSS JOIN total
        GROUP BY doc_id ORDER BY doc_id
    """,
    "length_buckets": f"""
        WITH d AS (
          SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS n_toks
          FROM documents),
        b AS (
          SELECT n_toks,
                 CASE WHEN n_toks <= {LB_BUCKET_EDGES[0]}
                      THEN {LB_BUCKET_EDGES[0]}
                      WHEN n_toks <= {LB_BUCKET_EDGES[1]}
                      THEN {LB_BUCKET_EDGES[1]}
                      WHEN n_toks <= {LB_BUCKET_EDGES[2]}
                      THEN {LB_BUCKET_EDGES[2]}
                      WHEN n_toks <= {LB_BUCKET_EDGES[3]}
                      THEN {LB_BUCKET_EDGES[3]}
                      ELSE 0 END AS bucket
          FROM d),
        agg AS (
          SELECT bucket, count(*) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
                 CAST(max(n_toks) AS BIGINT) AS max_tokens
          FROM b GROUP BY bucket)
        SELECT bucket, n_docs, sum_tokens, max_tokens,
               CAST((CASE WHEN bucket > 0 THEN bucket ELSE max_tokens END)
                    * n_docs - sum_tokens AS BIGINT) AS padded_waste_tokens,
               round(((CASE WHEN bucket > 0 THEN bucket ELSE max_tokens END)
                      * n_docs - sum_tokens) * 100.0
                     / ((CASE WHEN bucket > 0 THEN bucket ELSE max_tokens END)
                        * n_docs), 4) AS waste_pct
        FROM agg ORDER BY bucket
    """,
    "chunk_overlap": f"""
        WITH d AS (
          SELECT doc_id, str_split(text, ' ') AS w,
                 len(str_split(text, ' ')) AS n
          FROM documents),
        nc AS (
          SELECT doc_id, w, n,
                 CASE WHEN n <= {CHUNK_W} THEN 1
                      ELSE CAST(ceil((n - {CHUNK_W})
                                     / {float(CHUNK_STRIDE)}) AS BIGINT) + 1
                 END AS n_chunks
          FROM d),
        idx AS (
          SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM nc),
        chunks AS (
          SELECT doc_id,
                 i AS chunk_idx,
                 array_to_string(list_slice(
                     w, i * {CHUNK_STRIDE} + 1,
                     i * {CHUNK_STRIDE} + {CHUNK_W}), ' ') AS chunk
          FROM idx)
        SELECT doc_id, chunk_idx,
               CAST(len(str_split(chunk, ' ')) AS BIGINT) AS chunk_words,
               md5(chunk) AS chunk_md5
        FROM chunks ORDER BY doc_id, chunk_idx
    """,
    "mojibake_repair": f"""
        WITH planted AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 7 = 0
                              THEN '{MOJI_SUFFIX}' ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_MOJI_ALT}')) AS BIGINT)
                   AS n_moji,
               {_moji_fix_sql('text')} AS repaired,
               CASE WHEN {_moji_fix_sql('text')} <> text THEN 1 ELSE 0 END
                   AS changed
        FROM planted ORDER BY doc_id
    """,
}


# ---------------------------------------------------------------------------
# Crawl snapshot diff (CDX-style change classification between two crawls)
# ---------------------------------------------------------------------------

def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every document across two crawl snapshots as
    added / removed / changed / same, plus the per-status counts a crawl
    scheduler consumes.

    Snapshot B is derived deterministically from A (drop every 11th doc,
    rewrite every 13th's text, mint new ids above the old range) so both
    engines build identical inputs. The diff itself is ONE full-outer
    shuffle join on the uniform ``doc_id`` key — both sides hash-partition
    once, no skew (ids are unique); md5 digests compare content so the
    shuffle carries 32-byte hashes, never the text payload (the same
    never-shuffle-the-text rule the dedup tier follows)."""
    base = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text"))
    snap_a = base.select("doc_id", F.md5("text").alias("h_a"))
    snap_b = (base.filter(F.col("doc_id") % 11 != 0)
              .select("doc_id",
                      F.md5(F.when(F.col("doc_id") % 13 == 0,
                                   F.concat(F.lit("rewritten "), F.col("text")))
                            .otherwise(F.col("text"))).alias("h_b"))
              .unionAll(
                  base.filter(F.col("doc_id") % 17 == 0)
                  .select((F.col("doc_id") + 100000).alias("doc_id"),
                          F.md5(F.concat(F.lit("new "), F.col("text")))
                          .alias("h_b"))))
    status = (F.when(F.col("h_a").isNull(), "added")
              .when(F.col("h_b").isNull(), "removed")
              .when(F.col("h_a") == F.col("h_b"), "same")
              .otherwise("changed"))
    return (snap_a.join(snap_b, "doc_id", "full_outer")
            .select(status.alias("status"))
            .groupBy("status").agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("status"))


CURATION_ORACLES["snapshot_diff"] = """
    WITH a AS (SELECT doc_id, md5(text) AS h_a FROM documents),
    b AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN 'rewritten ' || text
                      ELSE text END) AS h_b
      FROM documents WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, md5('new ' || text) AS h_b
      FROM documents WHERE doc_id % 17 = 0),
    j AS (
      SELECT CASE WHEN h_a IS NULL THEN 'added'
                  WHEN h_b IS NULL THEN 'removed'
                  WHEN h_a = h_b THEN 'same' ELSE 'changed' END AS status
      FROM a FULL OUTER JOIN b USING (doc_id))
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs
    FROM j GROUP BY status ORDER BY status
"""


# ---------------------------------------------------------------------------
# Within-document repetition removal (RefinedWeb-style line strip)
# ---------------------------------------------------------------------------

def _multiline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-layouted as 4-line texts with line 1 PLANTED again as
    line 3 — the within-doc repetition ground truth (the flat fixture
    texts are single-line, so structure is derived deterministically in
    both engines)."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id",
                    # NULL text → '' in BOTH engines: DuckDB's unnest over
                    # a NULL split yields zero rows and silently drops the
                    # document, Spark's posexplode keeps it
                    F.split(F.coalesce(F.col("text"), F.lit("")),
                            " ", -1).alias("w")))
    seg = [F.concat_ws(" ", F.slice("w", start, 5)) for start in (1, 6, 11)]
    return docs.select(
        "doc_id",
        F.concat_ws("\n", seg[0], seg[1], seg[0], seg[2]).alias("text"))


def strip_repeated_lines(docs: DataFrame) -> DataFrame:
    """Within-DOCUMENT repeated-line removal (RefinedWeb/MassiveText
    repetition removal — the transformation, not just the
    ``doc_repetition`` score): keep each line's FIRST occurrence in its
    document, preserving order, and rebuild ``text``. Input needs
    (doc_id, text); other columns pass through via the join-back. Adds
    ``n_kept`` (surviving line count).

    Scale shape: the first-occurrence mark is a ``row_number`` window
    over ``(doc_id, line)`` — per-document-line keys, so partitions stay
    uniform no matter how hot a line is ACROSS documents (contrast
    ``line_dedup``'s corpus-wide keeper join); reconstruction is a
    per-doc ``collect_list`` bounded by document size."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")),
                             "\n", -1)).alias("pos", "line"))
    w = Window.partitionBy("doc_id", "line").orderBy("pos")
    kept = (lines.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "line"))),
                            lambda s: s["line"]), "\n").alias("text")))
    return docs.drop("text").join(rebuilt, "doc_id")


def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle wrapper for :func:`strip_repeated_lines` over the derived
    multi-line corpus (line 1 planted again as line 3). Rebuilt text is
    md5-compared so the oracle checks content without hashing megabytes."""
    cleaned = strip_repeated_lines(_multiline_docs(spark, sf_dir))
    return (cleaned.select("doc_id", F.lit(4).cast("long").alias("n_lines"),
                           "n_kept", F.md5("text").alias("cleaned_md5"))
            .orderBy("doc_id"))


_MULTILINE_SQL = """
    SELECT doc_id,
           -- coalesce each segment: DuckDB array_to_string([]) is NULL
           -- (Spark concat_ws gives ''), and || with NULL poisons the doc
           coalesce(array_to_string(list_slice(w, 1, 5), ' '), '') || chr(10)
           || coalesce(array_to_string(list_slice(w, 6, 10), ' '), '') || chr(10)
           || coalesce(array_to_string(list_slice(w, 1, 5), ' '), '') || chr(10)
           || coalesce(array_to_string(list_slice(w, 11, 15), ' '), '') AS text
    FROM (SELECT doc_id, str_split(coalesce(text, ''), ' ') AS w
          FROM documents)
"""

CURATION_ORACLES["doc_line_dedup"] = f"""
    WITH ml AS ({_MULTILINE_SQL}),
    lines AS (
      SELECT doc_id, pos - 1 AS pos, line FROM (
        SELECT doc_id, unnest(str_split(text, chr(10))) AS line,
               generate_subscripts(str_split(text, chr(10)), 1) AS pos
        FROM ml)),
    kept AS (
      SELECT doc_id, pos, line FROM (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY doc_id, line
                                  ORDER BY pos) AS rn
        FROM lines) WHERE rn = 1)
    SELECT doc_id, CAST(4 AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_kept,
           md5(string_agg(line, chr(10) ORDER BY pos)) AS cleaned_md5
    FROM kept GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Interpolated bigram LM score (CCNet-style perplexity filter, order 2)
# ---------------------------------------------------------------------------

BIGRAM_LAMBDA = 0.7  # weight of the bigram term; 1-λ backs off to unigram


def bigram_scores(source: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, n_pairs, avg_logp): mean per-transition
    log-probability under an interpolated bigram LM trained on the corpus
    itself: ``P(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}) +
    (1-λ)·c(w_i)/T`` — one model order up from ``q_unigram_logprob``, the
    shape of CCNet's KenLM perplexity filter.

    Scale shape mirrors the unigram query: vocabulary and bigram tables
    are map-side-combinable aggregates (hot tokens absorbed before the
    shuffle), per-(doc, pair) counts carry doc_id in the key so corpus-hot
    bigrams spread, model joins broadcast (production: broadcast top-K +
    shuffle-join the tail), and the corpus total rides a 1-row crossJoin,
    never a collect."""
    lam = BIGRAM_LAMBDA
    from .text_analysis import adjacent_bigrams

    docs = source.select("doc_id", F.split("text", " ", -1).alias("w"))
    docs = docs.withColumn("n", F.size("w"))
    toks = docs.select("doc_id", F.explode("w").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("cu"))
    total = uni.agg(F.sum("cu").alias("t"))
    pairs = docs.filter(F.col("n") >= 2).select(
        "doc_id", F.explode(adjacent_bigrams(F.col("w"), F.col("n")))
        .alias("pair"))
    big = pairs.groupBy("pair").agg(F.count("*").alias("cb"))
    dp = pairs.groupBy("doc_id", "pair").agg(F.count("*").alias("c"))
    prev_cnt = uni.select(F.col("tok").alias("ptok"), F.col("cu").alias("cup"))
    cur_cnt = uni.select(F.col("tok").alias("ctok"), F.col("cu").alias("cuc"))
    scored = (dp.join(F.broadcast(big), "pair")
              .withColumn("ptok", F.split("pair", " ", -1)[0])
              .withColumn("ctok", F.split("pair", " ", -1)[1])
              .join(F.broadcast(prev_cnt), "ptok")
              .join(F.broadcast(cur_cnt), "ctok")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.sum("c").cast("long").alias("n_pairs"),
                   (F.sum(F.col("c") * F.log(
                       F.lit(lam) * F.col("cb") / F.col("cup")
                       + F.lit(1 - lam) * F.col("cuc") / F.col("t")))
                    / F.sum("c")).alias("lp")))
    return scored.select("doc_id", "n_pairs",
                         F.round("lp", 4).alias("avg_logp"))


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle wrapper for :func:`bigram_scores` over the documents table."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text"))
    return bigram_scores(docs).orderBy("doc_id")


def with_perplexity_bucket(docs: DataFrame,
                           lang_col: str = "lang") -> DataFrame:
    """Adds ``avg_logp`` and ``ppl_bucket`` ('head'/'middle'/'tail') —
    rank-based per-language terciles of the bigram LM score (the reusable
    form behind ``q_perplexity_buckets``; CCNet drops or re-weights
    'tail'). Docs too short to score (n_pairs absent: <2 tokens) land in
    'tail' UNCONDITIONALLY — they are excluded from the ntile window
    (an ntile over a partition that is mostly NULL scores would push
    unscoreable docs into 'middle' or 'head'; the terciles must split
    only the scoreable population)."""
    scores = bigram_scores(docs.select("doc_id", "text"))
    joined = docs.join(scores.select("doc_id", "avg_logp"), "doc_id", "left")
    w = (Window.partitionBy(lang_col)
         .orderBy(F.desc("avg_logp"), F.asc("doc_id")))
    scored = joined.filter(F.col("avg_logp").isNotNull()).withColumn(
        "ppl_bucket",
        F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                     F.ntile(3).over(w)))
    unscored = joined.filter(F.col("avg_logp").isNull()).withColumn(
        "ppl_bucket", F.lit("tail"))
    return scored.unionByName(unscored)


CURATION_ORACLES["bigram_logprob"] = f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS w,
             len(str_split(text, ' ')) AS n
      FROM documents),
    toks AS (SELECT doc_id, unnest(w) AS tok FROM w),
    uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY tok),
    total AS (SELECT sum(cu) AS t FROM uni),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, n),
                    i -> w[i] || ' ' || w[i+1])) AS pair
      FROM w WHERE n >= 2),
    big AS (SELECT pair, count(*) AS cb FROM pairs GROUP BY pair),
    dp AS (SELECT doc_id, pair, count(*) AS c FROM pairs
           GROUP BY doc_id, pair),
    j AS (
      SELECT dp.doc_id, dp.c, big.cb,
             pu.cu AS cup, cu2.cu AS cuc, total.t
      FROM dp
      JOIN big USING (pair)
      JOIN uni pu ON pu.tok = str_split(dp.pair, ' ')[1]
      JOIN uni cu2 ON cu2.tok = str_split(dp.pair, ' ')[2]
      CROSS JOIN total)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_pairs,
           round(sum(c * ln({BIGRAM_LAMBDA!r} * cb / cup
                            + {1 - BIGRAM_LAMBDA!r} * cuc / t)) / sum(c), 4)
           AS avg_logp
    FROM j GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity bucketing
# ---------------------------------------------------------------------------

def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality split: per-LANGUAGE terciles of the interpolated
    bigram LM score — ``head`` (most fluent third), ``middle``, ``tail``.
    The downstream recipe keeps head+middle and drops or re-weights tail;
    this query reports each bucket's population and score range.

    Buckets come from ``ntile(3)`` over ``(avg_logp DESC, doc_id)`` —
    RANK-based, integer-exact cross-engine, unlike interpolated
    percentile CUTS whose 1-ulp engine differences flip boundary docs
    (measured: the quantile_cont formulation hash-mismatched). Scale
    shape: scores reuse :func:`q_bigram_logprob` (its plan, its skew
    story); the window partitions by ``lang`` (bounded fan-in per
    language — at 100 TB switch to approx-percentile cuts and accept the
    boundary fuzz, or pre-bucket by score range)."""
    scores = q_bigram_logprob(spark, sf_dir)
    langs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("doc_id", "lang"))
    sl = scores.join(langs, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    bucketed = sl.withColumn(
        "bucket",
        F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                     F.ntile(3).over(w)))
    return (bucketed.groupBy("lang", "bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.round(F.min("avg_logp"), 4).alias("min_logp"),
                 F.round(F.max("avg_logp"), 4).alias("max_logp"))
            .orderBy("lang", "bucket"))


CURATION_ORACLES["perplexity_buckets"] = f"""
    WITH scores AS ({CURATION_ORACLES["bigram_logprob"]}),
    sl AS (
      SELECT s.doc_id, s.avg_logp, d.lang
      FROM scores s JOIN documents d USING (doc_id)),
    b AS (
      SELECT lang, avg_logp,
             (['head', 'middle', 'tail'])[
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_logp DESC, doc_id ASC)] AS bucket
      FROM sl)
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           round(min(avg_logp), 4) AS min_logp,
           round(max(avg_logp), 4) AS max_logp
    FROM b GROUP BY lang, bucket ORDER BY lang, bucket
"""
