"""Deduplication operators for training-data pipelines over ``documents``.

Document-level tiers (exact, Jaccard, MinHash+LSH, SimHash), cluster
resolution, line-level (C4-style) and substring-level (ExactSubstr-style
``q_span_dedup``) — all shuffle-conscious and oracle-checked against DuckDB:

* **exact**      — hash-groupBy on md5(text): one shuffle on a 32-byte key,
  never on the text payload itself (at 100 TB you shuffle digests, not docs).
* **n-gram Jaccard** — 3-word shingles → explode → group by shingle →
  in-posting-list pair expansion → pair-count → Jaccard ≥ τ. Bucket-then-
  expand rather than a shingle⋈shingle self-join: one shuffle on the shingle
  key, and the scan→shingle subtree runs once (a self-join plans it twice).
  Posting lists are document-frequency-capped (JACCARD_DF_CAP) on the same
  shuffle via a window count, so one ubiquitous shingle can never
  centralize the corpus into a single collect_list row.
* **MinHash + LSH** — K=8 signatures from 2 keyed md5s per shingle (each
  128-bit digest yields four 32-bit pieces; string-min over lowercase hex ==
  numeric min, and md5 — unlike xxhash64 — is reproducible in any engine),
  banded 4×2; candidates = band-bucket group + in-bucket pairs. At 10^12
  docs this is the only tier that avoids the quadratic shingle blowup:
  cost is O(docs × bands) with bucket-local pairs.
* **SimHash**    — 64-bit signature from per-token digest bit-majorities;
  near-dup = Hamming distance ≤ 3. Banded into 4 disjoint 16-bit tables
  (pigeonhole: ≤ 3 differing bits leave ≥ 1 band identical), so the band
  key space is 4×65536 and scales with the corpus instead of collapsing
  into 256 quadratic buckets.

The fixture corpus has no natural duplicates, so every query derives a
deterministic corpus: documents ∪ exact copies (doc_id+10000 for doc_id%5=0)
∪ near copies with one appended token (doc_id+20000 for doc_id%7=0). Both
engines build the same derivation, so the oracle checks the operator, not
the data generator.

The shingle, MinHash and SimHash signatures have one Spark implementation
each — an Arrow-batched Python stage — and the DuckDB SQL fragments
(``_SHINGLES_SQL``, ``_minhash_sigs_sql``, ``_SIMHASH_SQL``) are their
spec; tests/test_operators.py compares them per doc_id, planted non-ASCII
rows included. Every stage and query here lowercases and splits text with
the shared tokenizer in ``functions/expressions.py``, whose docstring
says how each engine's lowercase differs and what that leaves uncovered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import words, words_py, words_sql
from .scan import widen

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = 2
JACCARD_THRESHOLD = 0.5
# Document-frequency cap for Jaccard posting lists: a shingle appearing in
# more than this many docs is corpus boilerplate ("of the and") and carries
# no dedup signal, but its posting list would centralize every containing
# doc into ONE collect_list row (single-task k² expansion + OOM at 10^9
# docs). Standard LSH practice drops them; the DuckDB oracle applies the
# same cap so the check covers the capped semantics.
JACCARD_DF_CAP = 128
SIMHASH_BITS = 64
SIMHASH_BANDS = 4       # 4 × 16-bit bands: pigeonhole guarantees any pair
SIMHASH_BAND_BITS = 16  # with Hamming ≤ 3 agrees exactly on ≥ 1 band
HAMMING_MAX = 3
# pigeonhole: a pair within Hamming ≤ HAMMING_MAX differs in at most that
# many bands, so it agrees exactly on at least one of SIMHASH_BANDS
assert SIMHASH_BANDS > HAMMING_MAX
assert SIMHASH_BANDS * SIMHASH_BAND_BITS == SIMHASH_BITS


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = (docs.filter(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    near = (docs.filter(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 20000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" extraword")).alias("text")))
    return docs.unionAll(exact).unionAll(near)

_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 20000 AS doc_id, text || ' extraword' AS text
    FROM documents WHERE doc_id % 7 = 0
"""


def _shingle_set(words: list[str]) -> set[str]:
    """Distinct 3-word shingles; empty below 3 words."""
    return {words[i] + " " + words[i + 1] + " " + words[i + 2]
            for i in range(len(words) - 2)}


_SHINGLES_SQL = """
    list_distinct(CASE WHEN len({w}) >= 3 THEN
      list_transform(range(1, len({w}) - 1),
        i -> {w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2])
      ELSE [] END)
""".format(w=words_sql("text"))


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: shuffle on md5 digest, not document bytes."""
    corpus = _corpus(spark, sf_dir)
    return (corpus
            .groupBy(F.md5(F.col("text")).alias("text_hash"))
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count("*").alias("dup_count"))
            .filter(F.col("dup_count") > 1)
            .select("canonical_id", "dup_count")
            .orderBy("canonical_id"))


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard
# ---------------------------------------------------------------------------

def _shingle_rows_batches(it):
    """Arrow-batched shingle emitter: (doc_id, n_sh, shingle) per DISTINCT
    3-gram — the exploded form the posting-list groupBy consumes, produced
    in one Python pass instead of the JVM higher-order transform + Explode
    (HOFs run interpreted with no codegen; measured ~3x at sf0.1)."""
    import pandas as pd

    for pdf in it:
        ids: list[int] = []
        ns: list[int] = []
        shingles: list[str] = []
        for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
            if not isinstance(text, str):
                continue
            seen = _shingle_set(words_py(text))
            n = len(seen)
            ids.extend([doc_id] * n)
            ns.extend([n] * n)
            shingles.extend(seen)
        yield pd.DataFrame({"doc_id": ids, "n_sh": ns, "shingle": shingles})


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with 3-gram Jaccard ≥ 0.5 (a < b). Explode-join candidate
    generation; Jaccard from |∩| and set sizes only — text never re-read."""
    from pyspark.sql import Window

    ex = widen(_corpus(spark, sf_dir)).mapInPandas(
        _shingle_rows_batches, "doc_id long, n_sh int, shingle string")
    # bucket-then-expand (see q_dedup_minhash_lsh): a shingle⋈shingle
    # self-join would run the scan→shingle subtree twice; grouping by
    # shingle computes it once and pairs expand within each posting list.
    #
    # The document-frequency cap rides the SAME shuffle: count(*) OVER
    # (PARTITION BY shingle) shuffles once on shingle, WindowExec spills
    # hot-key groups to disk (rows, not an in-row array), the filter drops
    # ubiquitous shingles, and the groupBy below reuses the partitioning
    # (no second Exchange — pinned in tests/test_plans.py). collect_list
    # therefore never sees a list longer than JACCARD_DF_CAP, which bounds
    # both per-row memory and the k² pair expansion per bucket. Measured
    # vs the count-then-semijoin alternative at sf0.1 (interleaved, 2
    # rounds): window 2.7-3.5s, count+join 4.5-6.5s, identical 2,317
    # pairs — the semijoin pays a second Exchange AND re-executes the
    # Arrow shingle subtree for the probe side.
    df_w = F.count("*").over(Window.partitionBy("shingle"))
    buckets = (ex.withColumn("df", df_w)
               .filter((F.col("df") > 1) & (F.col("df") <= JACCARD_DF_CAP))
               .groupBy("shingle")
               .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds")))
    pairs = (buckets
             .select(F.explode("ds").alias("a"), F.col("ds"))
             .select("a", F.explode("ds").alias("b"))
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"),
                      F.col("a.n_sh").alias("na"),
                      F.col("b.n_sh").alias("nb"))
             .agg(F.count("*").alias("common")))
    return (pairs
            .withColumn("jaccard",
                        F.round(F.col("common") /
                                (F.col("na") + F.col("nb") - F.col("common")), 4))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("id_a", "id_b", "jaccard")
            .orderBy("id_a", "id_b"))


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_sig_batches(it):
    """Arrow-batched MinHash signatures: K=8 minima over the distinct
    shingles from TWO md5s per shingle (not K) — each 128-bit digest
    yields four 32-bit pieces (8 hex chars), and lowercase hex is
    lexicographically monotonic in the integer value, so string-min ==
    numeric min ('g' sorts after every hex char: +infinity). Docs with no
    shingle get no row. A JVM higher-order fold of the same math runs
    interpreted (no whole-stage codegen for lambdas); this pass measured
    5x faster at sf0.1."""
    from hashlib import md5

    import pandas as pd

    for pdf in it:
        out_ids: list[int] = []
        out_sigs: list[list[str]] = []
        for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
            if not isinstance(text, str):
                continue
            shingles = _shingle_set(words_py(text))
            if not shingles:
                continue
            mins = ["g" * 8] * N_MINHASH
            for s in shingles:
                b = s.encode()
                h = md5(b"0|" + b).hexdigest() + md5(b"1|" + b).hexdigest()
                for k in range(N_MINHASH):
                    piece = h[k * 8:k * 8 + 8]
                    if piece < mins[k]:
                        mins[k] = piece
            out_ids.append(doc_id)
            out_sigs.append(mins)
        yield pd.DataFrame({"doc_id": out_ids, "sig": out_sigs})


def _sig_frame(spark_df: DataFrame) -> DataFrame:
    """MinHash signatures ``(doc_id, sig)`` for any (doc_id, text) frame."""
    return spark_df.mapInPandas(_minhash_sig_batches,
                                "doc_id long, sig array<string>")


def _bands_of(sigs: DataFrame, id_name: str) -> DataFrame:
    return (sigs.select(
                F.col("doc_id").alias(id_name),
                F.explode(F.array(*[
                    F.struct(F.lit(j).alias("band"),
                             F.concat_ws("|",
                                         *[F.element_at("sig", j * 2 + r + 1)
                                           for r in range(2)]).alias("bval"))
                    for j in range(N_BANDS)])).alias("bb"))
            .select(id_name, "bb.band", "bb.bval"))


def _minhash_sigs_sql(src: str) -> str:
    """DuckDB spec of :func:`_sig_frame` over the (doc_id, text) relation
    ``src``: the same two keyed md5s per distinct shingle and K minima of
    8-hex-char pieces, no row for a doc without shingles."""
    mins = ", ".join(
        f"list_aggregate(list_transform(hs, x -> x[{k * 8 + 1}:{k * 8 + 8}]),"
        f" 'min')" for k in range(N_MINHASH))
    return f"""
        SELECT doc_id, [{mins}] AS sig FROM (
          SELECT doc_id, list_transform(shingles,
                   s -> md5('0|' || s) || md5('1|' || s)) AS hs
          FROM (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM {src})
          WHERE len(shingles) > 0)"""


def _minhash_bands_sql(sigs: str) -> str:
    """DuckDB spec of :func:`_bands_of` over the (doc_id, sig) relation
    ``sigs``."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band,"
        f" sig[{j * 2 + 1}] || '|' || sig[{j * 2 + 2}] AS bval FROM {sigs}"
        for j in range(N_BANDS))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: equal (band_id, band_value) bucket → distinct
    pairs (a < b). Shuffle cost O(docs × N_BANDS) on short digest strings —
    the 10^12-doc-scale near-dup plan."""
    sigs = _persist_swap("minhash_sigs",
                         _sig_frame(widen(_corpus(spark, sf_dir))))
    bands = _bands_of(sigs, "doc_id")
    # Band-key equi-self-join over the PERSISTED signature table (ReuseExchange
    # does not fire across a/b aliases — verified in the formatted plan — so
    # the persist is what keeps the scan→shingle→md5→signature subtree
    # single-execution; ~140 bytes/doc, disk-spillable). The join replaces the
    # previous collect_set bucket materialization: a corpus-ubiquitous band
    # value (think 10^6 boilerplate near-copies sharing every band) was ONE
    # array row and one un-splittable expansion task; as a join the expansion
    # streams and AQE skew-join splits it. Same candidate set by construction
    # (pinned oracle-green: tools/check_oracle.py dedup_minhash_lsh).
    left, right = bands.alias("l"), bands.alias("r")
    return (left.join(right,
                      (F.col("l.band") == F.col("r.band"))
                      & (F.col("l.bval") == F.col("r.bval")))
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("id_a"),
                    F.col("r.doc_id").alias("id_b"))
            .distinct()
            .orderBy("id_a", "id_b"))


# ---------------------------------------------------------------------------
# 3b. Duplicate-cluster resolution (connected components over LSH pairs)
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate pairs: each doc
    in any candidate pair gets its cluster's canonical (minimum) doc_id —
    the step an actual dedup pipeline runs AFTER pair generation, since
    keeping "one of each pair" over-deletes when A~B and B~C.

    Plan: iterative min-label propagation entirely in DataFrame ops —
    labels start as each node's own id; every round each node takes the
    min of its label and its neighbors' labels; a monotone non-increasing
    sum(label) serves as the convergence check (equality == fixpoint, no
    row-level diff join needed). The edge list and each round's labels are
    ``localCheckpoint``ed: edges so the expensive scan→signature→bucket
    subtree runs ONCE, labels so the plan doesn't grow by one join per
    round (lineage truncation is what makes iterative DataFrame algorithms
    viable). Near-dup clusters have tiny diameters, so rounds ≈ 2-3; at
    10^12 docs swap the per-round step for the large-star/small-star
    rounds of Kiveris et al., "Connected Components in MapReduce and
    Beyond" (SoCC'14) — same DataFrame primitives, O(log n) rounds on
    adversarial graphs."""
    pairs = (q_dedup_minhash_lsh(spark, sf_dir)
             .select("id_a", "id_b")
             .localCheckpoint(eager=True))
    return (cc_min_labels(pairs)
            .select(F.col("id").alias("doc_id"),
                    F.col("label").alias("cluster_id"))
            .orderBy("doc_id"))


def cc_min_labels(pairs: DataFrame,
                  max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Min-label propagation over an undirected pair graph ``(id_a, id_b)``
    → ``(id, label)`` where label is the component's minimum node id.
    Raises if the fixpoint is not reached within ``max_iters`` rounds — a
    component of diameter > max_iters would otherwise get wrong canonical
    ids SILENTLY (label 0 travels one hop per round)."""
    # undirected: propagate labels both ways
    edges = pairs.unionAll(pairs.select(F.col("id_b").alias("id_a"),
                                        F.col("id_a").alias("id_b")))
    labels = (pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"))
              .distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))

    # decimal(38,0) accumulator: callers may label with full-range
    # xxhash64 ids (headtags.crawl_gate), whose BIGINT sum overflows
    # under ANSI mode; 38 digits holds 10^19 such labels exactly
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    converged = False
    # max_iters label-improving rounds PLUS one: convergence is only
    # observable as a round that changes nothing, so a component whose
    # diameter is exactly max_iters needs the extra verification round —
    # without it the loop exits converged=False on labels that are
    # already the correct fixpoint (round-3 review finding)
    for _ in range(max_iters + 1):
        nbr_min = (edges.join(labels, edges.id_b == labels.id)
                   .groupBy("id_a")
                   .agg(F.min("label").alias("nbr_label")))
        labels = (labels.join(nbr_min, labels.id == nbr_min.id_a, "left")
                  .select(F.col("id"),
                          F.least(F.col("label"),
                                  F.coalesce(F.col("nbr_label"),
                                             F.col("label"))).alias("label"))
                  .localCheckpoint(eager=True))
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"cc_min_labels: label propagation did not reach a fixpoint "
            f"in {max_iters} rounds (sum(label) still decreasing); the "
            f"pair graph has a component of diameter > {max_iters} — "
            f"raise max_iters or switch to large-star/small-star rounds")
    return labels


# the oracle resolves the same fixpoint with a recursive CTE: min reachable
# id per node over the undirected LSH-pair graph
_CLUSTERS_ORACLE = """
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id)
    SELECT id AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------

_LONG_MIN = -9223372036854775808  # two's-complement value of bit 63


def _simhash_batches(it):
    """Arrow-batched 64-bit simhash: bit b = majority over token
    OCCURRENCES of bit ``b % 4`` of md5-hex-nibble ``b // 4``.
    Integer-only (+1/-1 sums; ties → bit set) for cross-engine
    determinism; bit 63 contributes the two's-complement constant so the
    signature stays a signed LongType. Tokens repeat heavily, so votes are
    memoized per batch as ±1 int16 vectors and a document is one numpy
    sum. NULL text keeps its row with simhash 0."""
    from hashlib import md5

    import numpy as np
    import pandas as pd

    def token_votes(t: str) -> "np.ndarray":
        h = md5(t.encode()).hexdigest()
        v = np.empty(SIMHASH_BITS, dtype=np.int16)
        for b in range(SIMHASH_BITS):
            v[b] = 1 if (int(h[b // 4], 16) >> (b % 4)) & 1 else -1
        return v

    weights = np.array([1 << b for b in range(SIMHASH_BITS - 1)]
                       + [_LONG_MIN], dtype=np.int64)
    for pdf in it:
        memo: dict[str, np.ndarray] = {}
        out_ids: list[int] = []
        out_sigs: list[int] = []
        for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
            if not isinstance(text, str):
                out_ids.append(doc_id)
                out_sigs.append(0)
                continue
            counts = np.zeros(SIMHASH_BITS, dtype=np.int64)
            for t in words_py(text):
                v = memo.get(t)
                if v is None:
                    v = memo[t] = token_votes(t)
                counts += v
            out_ids.append(doc_id)
            out_sigs.append(int(weights[counts >= 0].sum()))
        yield pd.DataFrame({"doc_id": out_ids,
                            "simhash": pd.array(out_sigs, dtype="int64")})


_LIVE_SIG_CACHES: dict[str, DataFrame] = {}


def _persist_swap(key: str, df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) that UNPERSISTS the previous cache held
    under the same key. Long-lived sessions (bench, the oracle gate, a
    notebook) invoke each query many times and Spark's CacheManager never
    garbage-collects DataFrame caches, so a bare per-invocation persist
    pins an unbounded pile of InMemoryRelations (round-3 review finding).
    A previously returned lazy DataFrame stays CORRECT after its cache is
    swapped out — it just recomputes."""
    from pyspark import StorageLevel

    old = _LIVE_SIG_CACHES.pop(key, None)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_SIG_CACHES[key] = df
    return df


def simhash_pairs(sigs: DataFrame) -> DataFrame:
    """Near-dup pairs with Hamming ≤ ``HAMMING_MAX`` from a ``(doc_id,
    simhash)`` signature table, via banding + band-key self-JOIN over
    ``SIMHASH_BANDS`` disjoint ``SIMHASH_BAND_BITS``-bit slices (the
    pigeonhole bound is asserted next to the constants).

    Pair expansion is a band-key equi-self-join, NOT a
    ``collect_set``+double-explode: a hot bucket is never materialized as
    one array in one row (a 10^7-member bucket would be an OOM row and an
    un-splittable task), the join's in-bucket expansion streams, and AQE
    skew-join splits an oversized bucket across tasks. The signature
    table is persisted (MEMORY_AND_DISK) so the Python signature stage
    computes ONCE for both join sides — 16 bytes/doc, disk-spillable, vs
    re-running the tokenize+vote stage over the corpus text."""
    sigs = _persist_swap("simhash_sigs", sigs)
    mask = F.lit((1 << SIMHASH_BAND_BITS) - 1)
    bands_df = sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band"),
                     F.shiftright("simhash", j * SIMHASH_BAND_BITS)
                     .bitwiseAND(mask).alias("bval"))
            for j in range(SIMHASH_BANDS)
        ])).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.bval")
    # Both join inputs are the IDENTICAL plan (aliases only; projections
    # applied after the join) so the band-key Exchange canonicalizes equal
    # and ReusedExchange computes the Python signature stage ONCE —
    # pinned by test_simhash_expansion_has_no_bucket_arrays_and_caches_sigs.
    left, right = bands_df.alias("l"), bands_df.alias("r")
    pairs = (left.join(right,
                       (F.col("l.band") == F.col("r.band"))
                       & (F.col("l.bval") == F.col("r.bval")))
             .filter(F.col("l.doc_id") < F.col("r.doc_id"))
             .select(F.col("l.doc_id").alias("id_a"),
                     F.col("r.doc_id").alias("id_b"),
                     F.bit_count(F.col("l.simhash")
                                 .bitwiseXOR(F.col("r.simhash")))
                     .alias("hamming")))
    return (pairs.filter(F.col("hamming") <= HAMMING_MAX)
            .distinct()  # a pair can agree on several bands
            .orderBy("id_a", "id_b"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with Hamming(simhash64) ≤ 3 among derived corpus docs.

    Banding (pigeonhole): split the 64-bit signature into 4 disjoint 16-bit
    bands — any pair within Hamming ≤ 3 differs in at most 3 bands, so it
    agrees EXACTLY on at least one band and surfaces as a bucket candidate.
    Band keys are (band_id, 16-bit value): up to 4×65536 buckets whose
    occupancy scales with corpus cardinality. Signatures computed once,
    one shuffle on the band key, exact Hamming re-check inside buckets
    only — see :func:`simhash_pairs` for the join-based expansion."""
    sigs = widen(_corpus(spark, sf_dir)).mapInPandas(
        _simhash_batches, "doc_id long, simhash long")
    return simhash_pairs(sigs)


# 64-bit simhash spec: md5 evaluated ONCE per token occurrence (unnest +
# group-by-doc), per-bit votes from the 16 leading hex nibbles, bit 63 as
# the two's-complement constant so the BIGINT arithmetic matches Spark's
# signed LongType exactly. NULL-text docs re-enter via LEFT JOIN at 0.
_SIMHASH_SQL = """
    (WITH toks AS (
       SELECT doc_id, unnest({words}) AS t FROM corpus),
     tn AS (
       SELECT doc_id,
              list_transform(range(1, 17),
                i -> strpos('0123456789abcdef', substring(md5(t), i, 1)) - 1)
              AS nib
       FROM toks),
     votes AS (
       SELECT doc_id, {votes}
       FROM tn GROUP BY doc_id),
     s0 AS (
       SELECT doc_id, {bits} AS simhash FROM votes)
     SELECT c.doc_id, COALESCE(s0.simhash, 0) AS simhash
     FROM corpus c LEFT JOIN s0 ON c.doc_id = s0.doc_id)
""".format(
    words=words_sql("text"),
    votes=", ".join(
        f"CAST(sum(CASE WHEN (nib[{b // 4 + 1}] >> {b % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS BIGINT) AS c{b}"
        for b in range(SIMHASH_BITS)),
    bits=" + ".join(
        [f"(CASE WHEN c{b} >= 0 THEN CAST({1 << b} AS BIGINT) "
         f"ELSE 0 END)" for b in range(SIMHASH_BITS - 1)]
        + [f"(CASE WHEN c{SIMHASH_BITS - 1} >= 0 "
           f"THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE 0 END)"]))


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-dup
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.99


def _derived_embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ∪ slightly perturbed copies (vec_id+10000, dim-1 += 0.01,
    every 10th vector) — the planted near-dup ground truth shared by the
    embedding-space dedup operators. All math in float64 on both engines
    (float32→float64 is exact; adding 0.01 in mixed precision would
    double-round and diverge cross-engine)."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id",
                   F.transform(F.col("embedding"),
                               lambda x: x.cast("double")).alias("embedding")))
    perturbed = (emb.filter(F.col("vec_id") % 10 == 0)
                 .select((F.col("vec_id") + 10000).alias("vec_id"),
                         F.transform(
                             F.col("embedding"),
                             lambda x, i: F.when(i == 0, x + F.lit(0.01))
                             .otherwise(x)).alias("embedding")))
    return emb.unionAll(perturbed)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup: derived corpus = embeddings ∪ slightly
    perturbed copies (vec_id+10000, dim-1 += 0.01, every 10th vector);
    candidates bucketed by the same md5-derived hyperplane LSH as the ANN
    operator (the 10^12-vector plan: bucket equi-join, then exact cosine
    ≥ 0.99 re-check inside buckets only)."""
    from .similarity import _bucket_expr, _dot, _norm

    corpus = (_derived_embedding_corpus(spark, sf_dir)
              .withColumn("bucket", _bucket_expr(F.col("embedding"))))
    a, b = corpus.alias("a"), corpus.alias("b")
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    F.round(_dot(F.col("a.embedding"), F.col("b.embedding")) /
                            (_norm(F.col("a.embedding")) * _norm(F.col("b.embedding"))),
                            6).alias("cosine"))
            .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
            .orderBy("id_a", "id_b"))


def _embedding_cosine_oracle() -> str:
    from .similarity import DIM, _bucket_sql, _dot_sql, _norm_sql
    perturb = (f"list_transform(range(1, {DIM + 1}), "
               f"i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.01 "
               f"ELSE CAST(embedding[i] AS DOUBLE) END)")
    return f"""
        WITH corpus AS (
          SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, {perturb}::DOUBLE[] AS embedding
          FROM embeddings WHERE vec_id % 10 = 0),
        b AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
              FROM corpus),
        pairs AS (
          SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                 round({_dot_sql('a.embedding', 'b2.embedding')} /
                       ({_norm_sql('a.embedding')} * {_norm_sql('b2.embedding')}), 6)
                 AS cosine
          FROM b a JOIN b b2
            ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
        SELECT id_a, id_b, cosine FROM pairs
        WHERE cosine >= {COSINE_DUP_THRESHOLD}
        ORDER BY id_a, id_b
    """


SEMDEDUP_T = 0.95


def q_semantic_dedup(spark: SparkSession, sf_dir: str,
                     k_centroids: int | None = None,
                     codebook: str = "arrow") -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space with a coarse quantizer, then inside each
    cluster mark any vector that has a higher-priority (lower ``vec_id``)
    neighbor at cosine ≥ ``SEMDEDUP_T`` as a semantic duplicate — keeping
    one representative per near-dup set without ever comparing across
    clusters.

    The scale story IS the clustering: pair comparison happens only inside
    a cluster, so with K ≈ √N centroids the per-cluster candidate set is
    ~√N and the join never approaches all-pairs. ``k_centroids`` IS that
    dial (defaults to the oracle-checked ``similarity.K_CENTROIDS``);
    ``codebook="arrow"`` (default) assigns lists via the same
    broadcast-codebook numpy ``mapInPandas`` stage the IVF tier ships
    (``similarity._assign_lists_arrow``) — plan size FLAT in K, so
    production K≈√N is a parameter change, not a plan rewrite (the
    round-3 verdict's last 100×-scale caveat). ``codebook="literal"``
    keeps the K×DIM-literal projection for small K; both paths are pinned
    result-identical. The intra-cluster expansion is the same
    equi-self-join shape as SimHash/MinHash (streams, AQE-splittable, no
    bucket arrays).

    Output: one row per corpus vector — ``(vec_id, list_id,
    is_semantic_dup)``; downstream keeps ``NOT is_semantic_dup``."""
    from .similarity import (K_CENTROIDS, _assign_lists_arrow,
                             _centroid_cos_structs, _centroid_rows, _dot,
                             _norm)

    corpus = _derived_embedding_corpus(spark, sf_dir).withColumn(
        "nrm", _norm(F.col("embedding")))
    cents = _centroid_rows(corpus, k_centroids or K_CENTROIDS)
    if codebook == "arrow":
        # one Arrow stage, then localCheckpoint so BOTH self-join sides
        # and the output projection read the materialized assignment
        # instead of re-running the Python stage three times
        assigned = _assign_lists_arrow(corpus, cents).localCheckpoint(
            eager=True)
    else:
        # codegen'd K×DIM literal assignment, re-evaluated per consumer —
        # cheaper than materializing through an InMemoryRelation at small
        # K (4.5 s vs 12-14 s at sf0.01: columnar array caching costs
        # more than the recompute), but the plan grows O(K·DIM)
        assigned = corpus.withColumn(
            "list_id",
            -F.array_max(F.array(*_centroid_cos_structs(cents)))["c"])
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_ids = (a.join(b, (F.col("a.list_id") == F.col("b.list_id"))
                     & (F.col("b.vec_id") < F.col("a.vec_id")))
               .withColumn("cosine",
                           F.round(_dot(F.col("a.embedding"),
                                        F.col("b.embedding"))
                                   / (F.col("a.nrm") * F.col("b.nrm")), 6))
               .filter(F.col("cosine") >= SEMDEDUP_T)
               .select(F.col("a.vec_id").alias("vec_id"))
               .distinct()
               .withColumn("dup", F.lit(True)))
    return (assigned.join(dup_ids, "vec_id", "left")
            .select("vec_id", "list_id",
                    F.coalesce(F.col("dup"), F.lit(False))
                    .alias("is_semantic_dup"))
            .orderBy("vec_id"))


def _semantic_dedup_oracle() -> str:
    from .similarity import K_CENTROIDS, _dot_sql, _norm_sql
    return f"""
        WITH corpus AS (
          SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 10000 AS vec_id,
                 list_transform(range(1, len(embedding) + 1),
                   i -> CASE WHEN i = 1
                        THEN CAST(embedding[i] AS DOUBLE) + 0.01
                        ELSE CAST(embedding[i] AS DOUBLE) END) AS embedding
          FROM embeddings WHERE vec_id % 10 = 0),
        cents AS (
          SELECT vec_id AS cid, embedding AS c_emb
          FROM corpus WHERE vec_id < {K_CENTROIDS}),
        scored AS (
          SELECT c.vec_id, ct.cid,
                 round({_dot_sql('c.embedding', 'ct.c_emb')} /
                       ({_norm_sql('c.embedding')} * {_norm_sql('ct.c_emb')}),
                       6) AS cos
          FROM corpus c, cents ct),
        assigned AS (
          SELECT s.vec_id, s.cid AS list_id, c.embedding FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid ASC) AS rn
            FROM scored) s JOIN corpus c ON s.vec_id = c.vec_id
          WHERE s.rn = 1),
        dropped AS (
          SELECT DISTINCT x.vec_id
          FROM assigned x JOIN assigned y
            ON x.list_id = y.list_id AND y.vec_id < x.vec_id
          WHERE round({_dot_sql('x.embedding', 'y.embedding')} /
                      ({_norm_sql('x.embedding')} * {_norm_sql('y.embedding')}),
                      6) >= {SEMDEDUP_T})
        SELECT a.vec_id, a.list_id,
               (d.vec_id IS NOT NULL) AS is_semantic_dup
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id
    """


DEDUP_ORACLES = {
    "dedup_exact": f"""
        WITH corpus AS ({_CORPUS_SQL})
        SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
        FROM corpus GROUP BY md5(text) HAVING count(*) > 1
        ORDER BY canonical_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH corpus AS ({_CORPUS_SQL}),
        sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM corpus),
        sized AS (SELECT doc_id, shingles, len(shingles) AS n_sh
                  FROM sh WHERE len(shingles) > 0),
        ex AS (SELECT doc_id, n_sh, unnest(shingles) AS shingle FROM sized),
        exf AS (SELECT doc_id, n_sh, shingle FROM (
                  SELECT doc_id, n_sh, shingle,
                         count(*) OVER (PARTITION BY shingle) AS df
                  FROM ex)
                WHERE df > 1 AND df <= {JACCARD_DF_CAP}),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS na, b.n_sh AS nb, count(*) AS common
          FROM exf a JOIN exf b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b,
               round(common / (na + nb - common), 4) AS jaccard
        FROM pairs
        WHERE round(common / (na + nb - common), 4) >= {JACCARD_THRESHOLD}
        ORDER BY id_a, id_b
    """,
    "dedup_minhash_lsh": f"""
        WITH corpus AS ({_CORPUS_SQL}),
        sigs AS ({_minhash_sigs_sql("corpus")}),
        bands AS ({_minhash_bands_sql("sigs")})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b
    """,
    "dedup_simhash": f"""
        WITH corpus AS ({_CORPUS_SQL}),
        sigs AS (SELECT doc_id, simhash FROM {_SIMHASH_SQL} s),
        bands AS (
          {" UNION ALL ".join(
              f"SELECT doc_id, simhash, {j} AS band, "
              f"(simhash >> {j * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1} AS bval "
              f"FROM sigs"
              for j in range(SIMHASH_BANDS))}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, hamming FROM pairs
        WHERE hamming <= {HAMMING_MAX}
        ORDER BY id_a, id_b
    """,
}

DEDUP_ORACLES["dedup_clusters"] = _CLUSTERS_ORACLE.format(
    pairs_sql=DEDUP_ORACLES["dedup_minhash_lsh"])


# ---------------------------------------------------------------------------
# 6. Line-level dedup (C4-style corpus line filtering)
# ---------------------------------------------------------------------------

def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line dedup: every distinct non-empty line is kept only in
    the lowest-doc_id document containing it; documents are rebuilt from
    their surviving lines in original order (empty lines always survive —
    they carry structure, not content).

    Scale shape: the keeper table is a plain min-aggregate on the line
    (map-side partials, no list materialization — a hot boilerplate line
    costs one row, unlike a posting list), the kept-filter is one
    shuffle-join on the line key, and reconstruction is a per-doc
    collect_list bounded by document size. Empty lines never enter the
    join: every empty line hashes to ONE key, so routing them through the
    shuffle would hand a single reducer ~all blank lines in the corpus —
    they're unconditionally kept and unioned back instead. Hot non-empty
    boilerplate lines remain skew candidates on the probe side; AQE's
    skew-join splitting handles those (the keeper side is one row per
    line). Rebuilt text is compared via md5 so the oracle checks content
    without hashing megabytes of rows."""
    corpus = _corpus(spark, sf_dir)
    lines = (widen(corpus)
             .select("doc_id",
                     F.posexplode(F.split("text", "\n", -1))
                     .alias("pos", "line")))
    nonempty = lines.filter(F.trim("line") != "")
    empty = lines.filter(F.trim("line") == "")
    keeper = nonempty.groupBy("line").agg(F.min("doc_id").alias("keeper"))
    kept = (nonempty.join(keeper, "line")
            .filter(F.col("doc_id") == F.col("keeper"))
            .select("doc_id", "pos", "line")
            .unionAll(empty.select("doc_id", "pos", "line")))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count("*").cast("int").alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "line"))),
                            lambda s: s["line"]), "\n").alias("kept_text")))
    totals = corpus.select(
        "doc_id", F.size(F.split("text", "\n", -1)).alias("n_lines"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.col("n_lines").cast("int").alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.length(F.coalesce("kept_text", F.lit("")))
                    .cast("int").alias("kept_len"),
                    F.md5(F.coalesce("kept_text", F.lit("")))
                    .alias("kept_md5"))
            .orderBy("doc_id"))


DEDUP_ORACLES["line_dedup"] = f"""
    WITH corpus AS ({_CORPUS_SQL}),
    l0 AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM corpus),
    lines AS (SELECT doc_id, unnest(ls) AS line,
                     generate_subscripts(ls, 1) AS pos
              FROM l0),
    keeper AS (SELECT line, min(doc_id) AS keeper FROM lines
               WHERE trim(line) <> '' GROUP BY line),
    kept AS (SELECT l.doc_id, l.pos, l.line
             FROM lines l LEFT JOIN keeper k ON l.line = k.line
             WHERE trim(l.line) = '' OR l.doc_id = k.keeper),
    rebuilt AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS kept_text
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id,
                   CAST(len(str_split(text, chr(10))) AS INT) AS n_lines
            FROM corpus)
    SELECT t.doc_id, t.n_lines,
           COALESCE(r.n_kept, 0) AS n_kept,
           CAST(length(COALESCE(r.kept_text, '')) AS INT) AS kept_len,
           md5(COALESCE(r.kept_text, '')) AS kept_md5
    FROM tot t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# 8. ExactSubstr-style duplicated-SPAN detection (substring-level dedup)
# ---------------------------------------------------------------------------

# Span shingle width in words. Production ExactSubstr (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better") uses
# 50-token windows; 8 fits the fixture docs while keeping the plan
# identical — the width is a constant in one projection, not a plan shape.
SPAN_K = 8


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark every K-word span whose text occurs MORE THAN ONCE in the
    corpus, merge overlapping/adjacent marked spans per document
    (gaps-and-islands), and report per-doc duplicated coverage.

    This is the substring-granularity tier the doc-level (exact/minhash)
    and line-level (line_dedup) tiers miss: a page that quotes a
    boilerplate paragraph is not a duplicate DOCUMENT, but the paragraph
    itself is duplicated TEXT a training pipeline wants to drop once.

    Scale shape (the reason this formulation survives 10^12 docs):

    * positional shingles are md5 DIGESTS — the shuffle never carries
      text, and each occurrence is ONE row (doc_id, pos, h);
    * the duplicate mark is TWO-PHASE: ``groupBy(h).count()`` (map-side
      partial combine — the reduce side of a corpus-ubiquitous span
      receives one row per map partition, not per occurrence) filtered
      to cnt > 1, LEFT-SEMI joined back on h. No pair expansion
      (contrast: Jaccard's posting lists need the DF cap precisely
      because they DO expand pairs), and — unlike the round-2 window
      ``count(*) over (partition by h)``, which pinned every occurrence
      of one hot digest into a single task — the join is a shuffle AQE's
      skew-join split can divide, so a 10^9-occurrence boilerplate span
      cannot straggle one task;
    * island merging is a per-doc window over marked positions only —
      Exchange on doc_id, rows already reduced to duplicated positions.

    Exactly mirrored in DuckDB (same split convention, same md5 keys,
    same merge rule: spans [p, p+K-1] merge when p <= prev_end + 1)."""
    from pyspark.sql.window import Window

    corpus = _corpus(spark, sf_dir)
    k = SPAN_K
    sh = (widen(corpus)
          .withColumn("words", words("text"))
          .filter(F.size("words") >= k)
          .select("doc_id", F.size("words").alias("n_words"),
                  F.posexplode(F.transform(
                      F.sequence(F.lit(1), F.size("words") - k + 1),
                      lambda i: F.md5(F.concat_ws(" ", F.slice("words", i, k)))
                  )).alias("p0", "h"))
          .select("doc_id", "n_words", (F.col("p0") + 1).alias("pos"), "h"))
    dup_h = (sh.groupBy("h").agg(F.count("*").alias("cnt"))
             .filter(F.col("cnt") > 1).select("h"))
    marked = (sh.join(dup_h, "h", "left_semi")
              .select("doc_id", "n_words", "pos"))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k - 1).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    islands = (marked
               .withColumn("is_new",
                           F.when(prev_end.isNull()
                                  | (F.col("pos") > prev_end + 1), 1)
                           .otherwise(0))
               .withColumn("island", F.sum("is_new").over(
                   w_ord.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy("doc_id", "n_words", "island")
               .agg((F.max("pos") + k - 1 - F.min("pos") + 1)
                    .alias("covered")))
    return (islands.groupBy("doc_id", "n_words")
            .agg(F.count("*").cast("int").alias("n_spans"),
                 F.sum("covered").cast("int").alias("dup_words"))
            .select("doc_id", F.col("n_words").cast("int").alias("n_words"),
                    "n_spans", "dup_words",
                    F.round(F.col("dup_words") / F.col("n_words"), 4)
                    .alias("dup_frac"))
            .orderBy("doc_id"))


DEDUP_ORACLES["span_dedup"] = f"""
    WITH corpus AS ({_CORPUS_SQL}),
    ws AS (SELECT doc_id, {words_sql("text")} AS w FROM corpus
           WHERE len({words_sql("text")}) >= {SPAN_K}),
    sh AS (SELECT doc_id, len(w) AS n_words,
                  unnest(list_transform(range(1, len(w) - {SPAN_K} + 2),
                    i -> {{'pos': i,
                          'h': md5(array_to_string(w[i:i+{SPAN_K}-1], ' '))}}),
                  recursive := true)
           FROM ws),
    marked AS (SELECT doc_id, n_words, pos FROM (
                 SELECT doc_id, n_words, pos,
                        count(*) OVER (PARTITION BY h) AS cnt
                 FROM sh) WHERE cnt > 1),
    flagged AS (SELECT doc_id, n_words, pos,
                       CASE WHEN max(pos + {SPAN_K} - 1) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) IS NULL
                            OR pos > max(pos + {SPAN_K} - 1) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) + 1
                            THEN 1 ELSE 0 END AS is_new
                FROM marked),
    isl AS (SELECT doc_id, n_words,
                   sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS island, pos
            FROM flagged),
    spans AS (SELECT doc_id, n_words, island,
                     max(pos) + {SPAN_K} - 1 - min(pos) + 1 AS covered
              FROM isl GROUP BY doc_id, n_words, island)
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(count(*) AS INT) AS n_spans,
           CAST(sum(covered) AS INT) AS dup_words,
           round(sum(covered) * 1.0 / n_words, 4) AS dup_frac
    FROM spans GROUP BY doc_id, n_words
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 9. Incremental cross-crawl dedup (Bloom-prefilter join)
# ---------------------------------------------------------------------------

def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW crawl against the HISTORICAL corpus without ever
    shuffling the two against each other: a Bloom filter over the
    historical fingerprints (32 words of state, built with ``bit_or``
    folds) broadcasts to the new side; only Bloom-POSITIVE candidates
    enter the exact fingerprint semi-join. Bloom has no false negatives,
    so the exact stage misses nothing — the filter only shrinks the join
    input (by the true-negative fraction), never the answer.

    Fixture split: historical = the ``documents`` table; new crawl =
    planted exact copies (every 5th doc, new id ``2*doc_id`` — true
    duplicates) union near-duplicates (every 7th doc, one word appended,
    new id ``2*doc_id + 1`` — NOT exact dups, so they must pass). The
    even/odd id split keeps the two planted sets disjoint AT ANY CORPUS
    SIZE (additive offsets like +10000/+20000 collide once doc_ids cross
    the offset gap, and a colliding id would cross-contaminate the final
    per-doc join). Output per new doc: the Bloom verdict and the exact
    verdict; ``is_dup <= is_candidate`` (no-false-negative) is pinned in
    tests.

    At 10^12 historical keys a single 1024-bit filter saturates — the
    scale knob is BLOOM_BITS (~10 bits/key for ~1% FP), and past what one
    broadcast holds (~billions of keys at GB-scale bitmaps) the same
    shape shards the filter by fingerprint prefix into P broadcastable
    pieces, or degrades to a bucketed semi-join against a
    fingerprint-bucketed historical table (sources/bucketed.py). The
    structure — prefilter to candidates, exact-check only candidates —
    is unchanged; what it buys is that the daily crawl (10^9 docs) never
    pays a shuffle proportional to the historical 10^12."""
    from .sketch import bloom_probe_cells, bloom_words
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text"))
    old_fp = docs.select(F.md5("text").alias("fp"))
    new = (docs.filter(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") * 2).alias("doc_id"), "text")
           .unionAll(
               docs.filter(F.col("doc_id") % 7 == 0)
               .select((F.col("doc_id") * 2 + 1).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" extraword"))
                       .alias("text")))
           .select("doc_id", F.md5("text").alias("fp")))
    filt = bloom_words(old_fp, key="fp")
    probes = bloom_probe_cells(new, key="fp")
    cand = (probes.join(F.broadcast(filt), "word", "left")
            .select("doc_id", "fp",
                    ((F.coalesce(F.col("bits"), F.lit(0))
                      .bitwiseAND(F.col("mask"))) == F.col("mask"))
                    .alias("hit"))
            .groupBy("doc_id", "fp")
            .agg(F.bool_and("hit").alias("is_candidate")))
    confirmed = (cand.filter(F.col("is_candidate"))
                 .join(old_fp.distinct(), "fp", "left_semi")
                 .select("doc_id", F.lit(1).alias("dup")))
    return (cand.join(confirmed, "doc_id", "left")
            .select("doc_id",
                    F.col("is_candidate").cast("int").alias("is_candidate"),
                    F.coalesce(F.col("dup"), F.lit(0)).cast("int")
                    .alias("is_dup"))
            .orderBy("doc_id"))


def _incremental_dedup_oracle() -> str:
    from .sketch import _BLOOM_H, _BLOOM_POS, _BLOOM_WORD_BITS

    hj = _BLOOM_H.replace("user_id", "fp")
    return f"""
        WITH j AS (SELECT unnest([0, 1, 2, 3]) AS j),
        old_fp AS (SELECT md5(text) AS fp FROM documents),
        new_ AS (
          SELECT doc_id * 2 AS doc_id, md5(text) AS fp
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id * 2 + 1 AS doc_id, md5(text || ' extraword') AS fp
          FROM documents WHERE doc_id % 7 = 0),
        mrows AS (SELECT fp, j, {hj} AS hj FROM old_fp CROSS JOIN j),
        mpos AS (SELECT {_BLOOM_POS} AS pos FROM mrows),
        filt AS (
          SELECT CAST(pos // {_BLOOM_WORD_BITS} AS INT) AS word,
                 bit_or(CAST(power(2, pos % {_BLOOM_WORD_BITS}) AS BIGINT))
                   AS bits
          FROM mpos GROUP BY 1),
        prows AS (SELECT doc_id, fp, j, {hj} AS hj FROM new_ CROSS JOIN j),
        ppos AS (SELECT doc_id, fp, {_BLOOM_POS} AS pos FROM prows),
        pcell AS (
          SELECT doc_id, fp, CAST(pos // {_BLOOM_WORD_BITS} AS INT) AS word,
                 CAST(power(2, pos % {_BLOOM_WORD_BITS}) AS BIGINT) AS mask
          FROM ppos),
        cand AS (
          SELECT p.doc_id, p.fp,
                 bool_and((COALESCE(f.bits, 0) & p.mask) = p.mask)
                   AS is_candidate
          FROM pcell p LEFT JOIN filt f ON p.word = f.word
          GROUP BY p.doc_id, p.fp)
        SELECT doc_id,
               CASE WHEN is_candidate THEN 1 ELSE 0 END AS is_candidate,
               CASE WHEN is_candidate
                         AND fp IN (SELECT fp FROM old_fp)
                    THEN 1 ELSE 0 END AS is_dup
        FROM cand ORDER BY doc_id
    """


DEDUP_ORACLES["incremental_dedup"] = _incremental_dedup_oracle()

# ---------------------------------------------------------------------------
# 10. Incremental NEAR-dup: MinHash-band the new crawl against history
# ---------------------------------------------------------------------------

def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate linkage of a NEW crawl against the HISTORICAL
    corpus — the fuzzy complement of ``incremental_dedup`` (which only
    catches byte-exact fingerprints). Each new doc that shares a MinHash
    band with any historical doc is reported with its best match
    (highest signature agreement, ties to the lowest historical id via
    a lexicographic ``max(struct(agree, -old_id))`` — deterministic in
    both engines), the agreement count (0..8 matching signature slots,
    an unbiased Jaccard estimate at /8), and its candidate count.

    Fixture split: near-dups = every 5th doc with one word appended
    (id ``2·d`` — must link back to ``d``); fresh docs = every 7th doc
    with the text reversed (id ``2·d+1`` — reversed strings share no
    3-word shingles, so they must surface only via rare band false
    positives). The parity id scheme keeps the sets disjoint at any
    corpus size (the incremental_dedup precedent).

    Scale shape (10^12 historical / 10^9 new per crawl): the historical
    banded index is WRITE-ONCE — persist it bucketed by (band, bval)
    (sources/bucketed.py) and each daily crawl shuffles only ITSELF onto
    the band key and probes co-located buckets; history is never
    re-shuffled per crawl. A corpus-ubiquitous band value (boilerplate
    near-copies sharing every band) streams through the equi-join and
    AQE's skew-join splits it — same argument as the self-join LSH
    (dedup.py q_dedup_minhash_lsh). Signature agreement is computed only
    for candidate pairs, never all pairs."""
    docs = (widen(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .select("doc_id", "text"))
    new = (docs.filter(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") * 2).alias("doc_id"),
                   F.concat(F.col("text"), F.lit(" freshtail")).alias("text"))
           .unionAll(
               docs.filter(F.col("doc_id") % 7 == 0)
               .select((F.col("doc_id") * 2 + 1).alias("doc_id"),
                       F.reverse(F.col("text")).alias("text"))))
    # both signature tables are consumed twice (bands + the agreement
    # join) — persist via the keyed swap so repeated invocations don't
    # pile caches (CacheManager never GCs); docs is already widened
    old_sigs = _persist_swap("incmh_old", _sig_frame(docs))
    new_sigs = _persist_swap("incmh_new", _sig_frame(new))
    return (best_band_match(new_sigs, old_sigs)
            .withColumn("est_jaccard",
                        F.col("sig_agree").cast("double") / N_MINHASH)
            .select("new_id", "match_id", "sig_agree", "est_jaccard",
                    "n_candidates")
            .orderBy("new_id"))


def best_band_match(new_sigs: DataFrame, old_sigs: DataFrame) -> DataFrame:
    """The cross-corpus fuzzy-match core shared by
    :func:`q_incremental_minhash` (the oracle-checked operator) and
    ``jobs/linkage.py``'s production job: band equi-join candidates,
    per-pair signature agreement (0..N_MINHASH matching slots), best
    match per new doc via the deterministic lexicographic
    ``max(struct(agree, -old_id))`` tie-break. Keeping this in ONE place
    keeps the job's verdicts pinned to the oracle-checked semantics.
    Both inputs should be persisted by the caller (each is consumed
    twice: bands + the agreement join)."""
    cand = (_bands_of(new_sigs, "new_id")
            .join(_bands_of(old_sigs, "old_id"), ["band", "bval"])
            .select("new_id", "old_id")
            .distinct())
    pairs = (cand
             .join(new_sigs.select(F.col("doc_id").alias("new_id"),
                                   F.col("sig").alias("sn")), "new_id")
             .join(old_sigs.select(F.col("doc_id").alias("old_id"),
                                   F.col("sig").alias("so")), "old_id"))
    agree = sum(
        (F.element_at("sn", k + 1) == F.element_at("so", k + 1)).cast("int")
        for k in range(N_MINHASH))
    return (pairs
            .withColumn("a", agree)
            .groupBy("new_id")
            .agg(F.count("*").cast("long").alias("n_candidates"),
                 F.max(F.struct(F.col("a").alias("a"),
                                (-F.col("old_id")).alias("negid")))
                 .alias("b"))
            .select("new_id",
                    (-F.col("b.negid")).cast("long").alias("match_id"),
                    F.col("b.a").cast("int").alias("sig_agree"),
                    "n_candidates"))


def _incremental_minhash_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sn[{k + 1}] = so[{k + 1}] THEN 1 ELSE 0 END"
        for k in range(N_MINHASH))
    return f"""
        WITH new_ AS (
          SELECT doc_id * 2 AS doc_id, text || ' freshtail' AS text
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id * 2 + 1 AS doc_id, reverse(text) AS text
          FROM documents WHERE doc_id % 7 = 0),
        osig AS ({_minhash_sigs_sql("documents")}),
        nsig AS ({_minhash_sigs_sql("new_")}),
        oband AS ({_minhash_bands_sql("osig")}),
        nband AS ({_minhash_bands_sql("nsig")}),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM nband n JOIN oband o USING (band, bval)),
        pairs AS (
          SELECT c.new_id, c.old_id, ns.sig AS sn, os.sig AS so
          FROM cand c
          JOIN nsig ns ON ns.doc_id = c.new_id
          JOIN osig os ON os.doc_id = c.old_id),
        scored AS (
          SELECT new_id, old_id, {agree} AS a FROM pairs),
        best AS (
          SELECT new_id,
                 CAST(count(*) AS BIGINT) AS n_candidates,
                 max(struct_pack(a := a, negid := -old_id)) AS b
          FROM scored GROUP BY new_id)
        SELECT new_id,
               CAST(-((b).negid) AS BIGINT) AS match_id,
               CAST((b).a AS INT) AS sig_agree,
               CAST((b).a AS DOUBLE) / {N_MINHASH} AS est_jaccard,
               n_candidates
        FROM best ORDER BY new_id
    """


DEDUP_ORACLES["incremental_minhash"] = _incremental_minhash_oracle()

# ---------------------------------------------------------------------------
# 11. Soft dedup: cluster-size reweighting instead of deletion
# ---------------------------------------------------------------------------

def q_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (the SlimPajama/Dolma-style alternative to
    dropping near-dups): every document keeps its row but carries a
    training weight of ``1 / |near-dup cluster|``, so a page crawled
    under N URLs contributes one page's worth of gradient in expectation.
    Docs in no candidate pair are their own cluster (weight 1.0).

    Plan shape: reuses the connected-components labels
    (:func:`q_dedup_clusters` — min-label propagation over the
    band-join candidate pairs), adds one cluster-size aggregate (keyed
    on cluster_id — cluster sizes are bounded by near-dup families, and
    a corpus-wide mega-cluster is exactly the case where the aggregate's
    map-side combine collapses it to one row per task), a doc_id-keyed
    left join of the labels onto the full corpus and a cluster_id-keyed
    left join of the sizes. The weight is the
    single float op: ``1/size`` is a correctly-rounded IEEE division of
    exact integers in both engines."""
    corpus = _corpus(spark, sf_dir).select("doc_id")
    cl = q_dedup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("cnt"))
    return (corpus
            .join(cl, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
            .join(sizes, "cluster_id", "left")
            .select("doc_id", "cluster_id",
                    F.coalesce("cnt", F.lit(1)).cast("long")
                    .alias("cluster_size"),
                    (F.lit(1.0) / F.coalesce("cnt", F.lit(1)))
                    .alias("weight"))
            .orderBy("doc_id"))


DEDUP_ORACLES["dedup_weights"] = f"""
    WITH cl AS ({DEDUP_ORACLES["dedup_clusters"]}),
    corpus AS ({_CORPUS_SQL}),
    sizes AS (SELECT cluster_id, count(*) AS cnt FROM cl GROUP BY cluster_id)
    SELECT c.doc_id,
           coalesce(cl.cluster_id, c.doc_id) AS cluster_id,
           CAST(coalesce(s.cnt, 1) AS BIGINT) AS cluster_size,
           CAST(1 AS DOUBLE) / coalesce(s.cnt, 1) AS weight
    FROM corpus c
    LEFT JOIN cl ON cl.doc_id = c.doc_id
    LEFT JOIN sizes s ON s.cluster_id = coalesce(cl.cluster_id, c.doc_id)
    ORDER BY c.doc_id
"""
