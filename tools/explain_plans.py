"""Dump physical-plan evidence for the headline queries → PLANS.md.

The 100 TB story is only credible if the plans show it (SURVEY.md §4):
* parquet **PushedFilters** + pruned **ReadSchema** on the metadata queries
  (the `html` binary column must NOT appear in a metadata-only scan);
* **WholeStageCodegen** spans over the F-layer expression chains;
* **BroadcastHashJoin** for dim joins / point lookups, SortMergeJoin only
  where both sides are big;
* a single Exchange ahead of the Arrow extraction stage (salted url-hash);
* **TakeOrderedAndProject** for sort+limit (no total sort).

Run: ``python tools/explain_plans.py`` (writes PLANS.md at the repo root).
A pytest-side contract on the same properties lives in
tests/test_plans.py — this file is the human-readable artifact.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[4]")
             .appName("explain-plans")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from document_converter_api_spark.operators.extract import extract_pipeline

    queries = entrymod.queries()
    sections: list[tuple[str, str, str]] = []

    def add(name: str, note: str, df) -> None:
        sections.append((name, note, formatted_plan(df)))

    # 1) metadata-only scan over the pages corpus: html MUST be pruned out
    pages_path = os.path.join(REPO, "fixtures", "data", "pages_smoke.parquet")
    pages = spark.read.parquet(pages_path)
    meta_q = (pages.filter(F.col("lang") == "en")
              .groupBy("lang").agg(F.count("*").alias("n")))
    add("pages_metadata_scan",
        "metadata query over the pages table — ReadSchema must exclude the "
        "`html` binary column (column pruning) and carry PushedFilters for "
        "the lang predicate; at 100 TB this is the difference between a "
        "full-corpus read and a footer-index skim.", meta_q)

    # 2) the extraction pipeline: one Exchange (salted url-hash) + Arrow eval
    results, _ = extract_pipeline(pages, num_partitions=8, shuffle_partitions=8)
    add("extract_pipeline",
        "gate (Catalyst filters) → single salted hash Exchange → one "
        "MapInArrow python stage. Exactly one Exchange ahead of the UDF; "
        "the gates stay JVM-side ahead of the shuffle so rejected rows "
        "never shuffle.", results)

    # 3) representative relational plans
    for name, note in (
        ("point_lookup", "BroadcastHashJoin expected: tiny key set broadcast, "
         "big side never shuffles."),
        ("orders_join", "dim joins broadcast (nation explicit; AQE may "
         "convert customer too), fact join shuffles once."),
        ("jobs_listing", "TakeOrderedAndProject expected: top-k without a "
         "total sort."),
        ("tpch_q1", "partial (map-side) HashAggregate before the single "
         "exchange, WholeStageCodegen around scan+filter+agg."),
        ("plain_text_format", "F-layer regex chain fully inside "
         "WholeStageCodegen — zero Python."),
        ("resume_antijoin", "left-anti join shape used by checkpoint "
         "resume."),
        ("rollup_stats", "Expand + single shuffle for grouping sets."),
        ("region_revenue", "5-way join: dims broadcast, single fact "
         "shuffle for lineitem-orders."),
        ("dedup_minhash_lsh", "LSH pairs via band-key equi-self-join over "
         "the PERSISTED signature table: the Arrow signature stage "
         "computes once (InMemoryTableScan x2), no bucket arrays — a hot "
         "band value streams through the join and AQE skew-split applies."),
        ("dedup_ngram_jaccard", "posting-list Jaccard with the document-"
         "frequency cap riding the SAME shuffle: one Exchange on shingle "
         "serves the window count (spill-safe per-key rows) AND the "
         "collect_list groupBy — no hot-shingle row can exceed "
         "JACCARD_DF_CAP entries, and there is no second Exchange."),
        ("dedup_simhash", "64-bit simhash, 4 disjoint 16-bit band tables "
         "(pigeonhole recall for Hamming<=3): signature stage computed "
         "once (persisted, InMemoryTableScan x2), band-key equi-self-join "
         "pair expansion (no bucket arrays, AQE-splittable), exact "
         "Hamming re-check inside buckets."),
        ("perplexity_buckets", "CCNet head/middle/tail: ntile(3) over "
         "(lang) partitions of the bigram LM score — rank-based, "
         "integer-exact cross-engine (interpolated cuts flip boundary "
         "docs by 1 ulp); window fan-in bounded per language."),
        ("bigram_logprob", "interpolated bigram LM (CCNet perplexity, "
         "order 2): vocab/bigram tables map-side-combined, model joins "
         "broadcast, per-(doc,pair) counts carry doc_id so corpus-hot "
         "bigrams spread, corpus total rides a 1-row crossJoin."),
        ("doc_line_dedup", "within-document repeated-line strip "
         "(RefinedWeb repetition removal): row_number over per-"
         "(doc_id,line) keys — uniform partitions regardless of corpus-"
         "hot lines — then per-doc bounded collect_list rebuild."),
        ("webhook_payloads", "S8 webhook payload assembly: one codegen'd "
         "to_json projection — md5 job_id, conditional completed/failed "
         "field sets, zero Python, zero shuffle."),
        ("semantic_dedup", "SemDeDup: coarse-quantizer assignment (IVF "
         "centroid literals — broadcast+Arrow path available for "
         "production K), intra-cluster equi-self-join on list_id with "
         "cosine >= 0.95 prune keeping the lowest vec_id; pair work never "
         "crosses a cluster boundary, so candidates stay ~N/K per "
         "cluster."),
        ("shipping_priority", "TPC-H Q3 shape: filtered customer dim "
         "broadcast, lineitem⋈orders single fact shuffle, top-10 via "
         "TakeOrderedAndProject."),
        ("big_orders", "TPC-H Q18 shape: lineitem pre-aggregate + HAVING "
         "shrinks the probe side before any join touches orders."),
        ("sessionize", "gap-based sessions: ONE Exchange on user_id serves "
         "the lag window, the running-sum window, and the session groupBy "
         "(same partitioning reused across all three)."),
        ("ann_ivf", "IVF: codebook baked as literals → inverted-list "
         "assignment is a shuffle-free projection; probe/query sets "
         "broadcast."),
        ("gopher_rules", "Gopher quality rules: all signals read the "
         "materialized words/grams columns — single scan, single project, "
         "zero Python."),
        ("value_percentiles", "exact per-group percentiles: single "
         "shuffle to groups, sort-based percentile within each."),
        ("line_dedup", "C4-style line dedup: empty lines bypass the "
         "shuffle entirely (they all hash to ONE key), keeper is a plain "
         "min-aggregate (one row per line, never a posting list), "
         "reconstruction sorts within doc groups."),
        ("host_cap_sample", "domain balancing: one shuffle to host "
         "windows, row_number over deterministic md5 order, cap filter."),
        ("ann_pq", "product quantization: codes are a pure projection "
         "against baked codebook literals; ADC distance is M array "
         "lookups — no per-pair float folds at query time."),
        ("url_normalize", "URL canonicalization fully inside Catalyst "
         "(regex + array HOFs): a scan-stage projection at corpus scale."),
        ("corpus_curation", "the full curation recipe as ONE plan: exact "
         "dedup rides a struct-min (lang/text recovered with NO join-"
         "back), quality + lang signals are projections over the dedup "
         "output — one digest shuffle plus a tiny mix-report agg."),
        ("pii_redact", "PII count+redact: regexp chain entirely inside "
         "one WholeStageCodegen span — zero Python, no extra shuffle."),
        ("decontaminate", "13-gram benchmark decontamination: the eval "
         "set is distinct'd then BROADCAST; corpus grams explode lazily "
         "under the size guard; hits re-aggregate on uniform doc_id."),
        ("token_pack", "token-budget shard packing: two-phase global "
         "prefix sum — per-group offsets broadcast back, window cumsum "
         "runs PER GROUP; no Exchange SinglePartition anywhere."),
        ("unicode_normalize", "NFC normalization: the one legitimately-"
         "Python stage — a single ArrowEvalPython node, batch-level "
         "Series.str.normalize."),
        ("unigram_logprob", "unigram-LM scoring: vocab + 1-row total both "
         "broadcast; the three keyed aggregations are the only shuffles, "
         "each map-side-combinable."),
        ("snapshot_diff", "crawl snapshot diff: md5 projected BEFORE the "
         "full-outer join's Exchange — the shuffle carries digests, "
         "never document text."),
        ("mix_sample", "deterministic stratified sampling: per-language "
         "thresholds (K rows) broadcast back, the md5-draw filter is a "
         "shuffle-free projection — reproducible under task retry, "
         "unlike rand()."),
        ("blocklist_filter", "registered-domain deny-list: domain "
         "extraction is a scan-stage regex projection, the list probes "
         "as a broadcast LEFT ANTI — zero data-sized shuffle before the "
         "report agg."),
        ("source_terms", "per-source distinctive terms: one (source,term) "
         "tf shuffle, vocabulary-sized df broadcast back, 1-row source "
         "count crossed in by broadcast, per-source top-k window (no "
         "SinglePartition)."),
        ("asof_join", "as-of join via union+carry-forward window: ONE "
         "hash Exchange on the key, zero row expansion — never the "
         "BroadcastNestedLoopJoin an inequality formulation plans."),
        ("range_join", "fixed-width interval join: each window explodes "
         "to its <=2 covering time buckets, the match is a plain "
         "EQUI-join on (key,bucket) + exact range filter — no "
         "nested-loop node anywhere."),
        ("range_join_variable", "variable-width interval join: windows "
         "explode to sequence(floor(s/W), floor(e/W)) base buckets "
         "(cost span/W, <=3 here) — still a plain equi-join, widths "
         "varying row to row."),
        ("hll_distinct", "HyperLogLog: groupBy(register)->max(rho) "
         "combines map-side, so the shuffle carries <=256 rows per task "
         "regardless of corpus size — the distributed sketch-union."),
        ("kmv_distinct", "KMV bottom-k: partial TakeOrdered per "
         "partition, k-row driver merge — the full distinct set never "
         "centralizes."),
        ("span_dedup", "ExactSubstr span marking: digest-only shuffle, "
         "window-count duplicate mark (boolean per occurrence, no pair "
         "expansion), per-doc gaps-and-islands merge on reduced rows."),
        ("cms_topk", "count-min: d*w counter sums combine map-side; "
         "probe side is 10 rows joined against the 1024-row sketch."),
        ("bloom_filter", "Bloom membership: 32 bit_or word folds, "
         "filter BROADCAST to the probe join — no data-sized shuffle."),
        ("histogram_quantiles", "mergeable equi-width histogram: bin "
         "counts combine map-side (groups*64 rows/task), quantile "
         "interpolation over the tiny cumsum — exact percentiles would "
         "sort every group's values instead."),
        ("bm25_search", "BM25 probe query: literal terms make tf a "
         "codegen'd array-filter count — no Generate, no term-keyed "
         "shuffle; 1-row corpus stats broadcast back; top-k is "
         "TakeOrderedAndProject."),
        ("quality_classifier", "hashed linear classifier: per-row HOF "
         "fold over tokens, weights are a pure hash — zero joins, zero "
         "aggregation, zero Python; the only Exchange is the output "
         "ORDER BY."),
        ("mojibake_repair", "mojibake detect+repair: literal-alternation "
         "regexp_count + fixed replace chain, one codegen projection "
         "over the scan."),
        ("split_assign", "train/val/test split: salted-hash draw as a "
         "scan-stage projection; 3-row split sizes broadcast back — "
         "never a 3-partition window over the corpus."),
        ("domain_pagerank", "domain PageRank: per-round join + "
         "groupBy(dst) partial-sum; edges pre-join out-degree ONCE; "
         "localCheckpoint truncates lineage so the shown plan is one "
         "round, not five stacked."),
        ("politeness_audit", "per-host fetch gaps: lag window and the "
         "re-aggregation share ONE hash Exchange on the host key; gaps "
         "are integer microseconds end to end."),
        ("incremental_dedup", "cross-crawl dedup: 32-word Bloom filter "
         "over historical fingerprints BROADCAST to the new crawl; only "
         "Bloom-positive candidates enter the exact fingerprint "
         "semi-join — the new crawl never shuffles against the full "
         "historical corpus."),
        ("incremental_minhash", "cross-crawl NEAR-dup: new crawl "
         "MinHash-banded against the (write-once, bucketable) historical "
         "index; candidates only via band equi-join, agreement scored "
         "per candidate pair, best match via deterministic "
         "max(struct(agree, -old_id)). History never re-shuffles per "
         "crawl."),
        ("dedup_weights", "soft dedup: CC cluster labels + one "
         "cluster-size aggregate (map-side combine collapses even a "
         "mega-cluster to one row per task) + two doc_id-keyed joins; "
         "weight 1/size is the single float op."),
        ("weighted_sample", "quality-weighted importance sampling: keep "
         "decision is a scan-stage projection (52-bit exact draw vs "
         "n_chars weight); the only shuffle is the per-language report "
         "agg."),
        ("dsir_select", "DSIR importance resampling: one MapInPandas "
         "stage computes each document's 64-count hashed-unigram bag; a "
         "pass over the bags, run while the frame is built, returns "
         "per-task bucket totals, from which the driver computes the 64 "
         "integer 2^-20 log-ratios; each weight is a dot product inside "
         "its row, and Gumbel-top-K selection is TakeOrderedAndProject — "
         "no hashpartitioning, no Generate, no join, no global window."),
        ("length_buckets", "context-length bucketing: codegen'd bucket "
         "CASE + 5-group map-side-combining agg — ~5 partial rows per "
         "map task regardless of corpus size."),
        ("doc_repetition", "line-grain repetition: (doc_id, line) counts "
         "spread corpus-hot boilerplate lines across their docs; per-doc "
         "re-agg on uniform doc_id; integer math until two final "
         "divisions."),
        ("ngram_repetition", "Gopher word-gram repetition gate: one "
         "MapInPandas stage computes all nine signals of a document "
         "inside its row (a Counter per n, a covered-position set for "
         "the duplicated grams, HALF_UP rounding); the only exchanges "
         "are widen's round robin and the final sort's range "
         "partitioning — no hashpartitioning, no Generate."),
        ("bpe_pair_stats", "BPE-training inner loop: zip_with pair build "
         "(O(words)), one map-side-combinable groupBy (vocabulary-sized "
         "shuffle), TakeOrderedAndProject top-k."),
        ("chunk_overlap", "RAG-prep sliding windows: chunk-index "
         "sequence is dozens of elements per doc (not per word), each "
         "slicing the materialized words column — O(words) per doc, "
         "zero Python."),
        ("token_entropy", "token-distribution entropy: (doc_id, tok) "
         "counts spread corpus-hot tokens; per-doc window + re-agg on "
         "uniform doc_id; map-side combine both stages."),
        ("link_extract", "WAT outlink extraction: decode + "
         "regexp_extract_all + host resolution as ONE codegen'd scan "
         "projection — no Python, no Exchange before the explode; "
         "embarrassingly parallel at crawl scale."),
        ("host_linkgraph", "host→host edge list: the ~50×/page explode "
         "partial-aggregates map-side, so the shuffle carries one row "
         "per (task, edge), not per link — hub hosts arrive "
         "pre-combined."),
        ("anchor_stats", "anchor-text signal: ONE page-sized regex pass "
         "captures whole anchor tags; href/anchor re-extract from each "
         "short tag string, then a map-side-combining (dst_host, "
         "anchor) agg."),
        ("link_pagerank", "PageRank over the EXTRACTED host graph: "
         "distinct non-self edges, out-degree joined once, per-round "
         "contribution agg with localCheckpoint lineage truncation — "
         "the shown plan is one round, not five stacked."),
        ("page_metadata", "WAT head metadata: title/h1/lang extraction "
         "+ heading/paragraph/script/link counts as ONE codegen'd "
         "projection — no Python, no Join, shuffle-free scan stage."),
        ("lang_audit", "declared-vs-detected language audit: "
         "script/style strip + tag strip + tokenize + per-language "
         "stopword hits as materialized columns (HOF lambdas get no "
         "CSE), argmax CASE — pure scan projection."),
        ("frontier_priority", "recrawl scheduling: one map-side-combined "
         "groupBy(host), 1-row corpus-max broadcast crossJoin, tiny "
         "host-rank broadcast LEFT join — rank x ln(staleness) never "
         "shuffles the page table twice."),
        ("host_quality", "domain-level quality gate: per-page token/"
         "stopword counts in the scan projection, ONE map-side-combined "
         "groupBy(host) — integer sums, exact-operand mean divisions."),
        ("crawl_budget", "largest-remainder budget split: integer ppb "
         "grid, base = div, top-R remainder via orderBy+limit = "
         "TakeOrderedAndProject (never a global window), host-keyed "
         "topup join."),
        ("template_detect", "structural dup clusters: run-collapsed "
         "tag-sequence md5 in the scan projection (indexed-lambda "
         "array filter), one map-side-combined (host, template) agg — "
         "output bounded by distinct templates."),
    ):
        add(name, note, queries[name](spark, SF))
    from document_converter_api_spark.operators.sampling import bucket_bags
    add("logreg_train",
        "classifier training: the plan shown is the bag frame (one "
        "MapInPandas stage, as in dsir_select) that the query caches and "
        "folds in Python passes. One counts the documents and each "
        "bucket's tokens; then each round returns 64 integer gradient "
        "partial sums per task, and the driver steps the 2^-20-grid "
        "weights. The query returns the weights as a LocalTableScan.",
        bucket_bags(spark.read.parquet(f"{SF}/documents.parquet")))

    # 4) bucketed co-located join: zero Exchange with broadcast disabled
    from document_converter_api_spark.sources.bucketed import bucketed_pair
    docs_b = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).cast("string").alias("lang"))
    embs_b = spark.range(0, 400).select(
        F.col("id").alias("vec_id"), (F.col("id") % 3).cast("int").alias("label"))
    import tempfile
    bdocs, bembs = bucketed_pair(spark, docs_b, embs_b, "doc_id", "vec_id",
                                 base_dir=tempfile.mkdtemp(),
                                 names=("ep_bdocs", "ep_bembs"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    add("bucketed_join",
        "both sides written bucketed on the join key (write-once shuffle): "
        "SortMergeJoin with ZERO Exchange — at 100 TB every later join/agg "
        "on the key rides the bucket layout for free (broadcast disabled "
        "here to surface the shape; Iceberg bucket(N, key) on a real "
        "cluster).",
        bdocs.join(bembs, bdocs.doc_id == bembs.vec_id)
             .select("doc_id", "lang", "label"))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # round-3 session-4 webtext tiers
    from document_converter_api_spark.operators.headtags import crawl_gate
    add("crawl_gate",
        "pre-extraction crawl-control gate: the noindex/self-canonical "
        "majority passes in the SCAN projection (no shuffle, payload "
        "bytes never move); only the cross-canonical minority takes the "
        "skinny (url, canonical) LeftAnti + the keeper LeftSemi — at "
        "100 TB the gate costs one scan plus joins over a few % of "
        "rows, and every dropped page is Arrow-stage compute saved.",
        crawl_gate(pages))
    add("frontier_discovery",
        "relative-href resolution in the scan, distinct candidates, "
        "then a url-hash LeftAnti against ALL fetched urls — one "
        "co-partitioned Exchange pair, sort-merge anti, no broadcast "
        "needed or possible at corpus scale; url strings only, never "
        "body bytes.",
        queries["frontier_discovery"](spark, SF))
    add("robots_compliance",
        "the rules table (hosts x a handful of Disallow rows) rides a "
        "BroadcastHashJoin into the fetch log — the 10^12-row side "
        "never shuffles; one map-side-combined groupBy(host) closes "
        "the audit.",
        queries["robots_compliance"](spark, SF))
    add("charset_audit",
        "raw-byte BOM + declared-charset audit as a pure scan "
        "projection over substr(hex(html)) — no decode of the payload "
        "it exists to flag, no Python, no joins; the one Exchange is "
        "the deterministic presentation orderBy a caller can drop.",
        queries["charset_audit"](spark, SF))
    add("canonical_clusters",
        "URL-level dedup from declared canonicals: the aggregate "
        "shuffles one small (canonical, url) row per canonicalized "
        "page — min(url) is order-free so partial combine applies; "
        "body bytes never move.",
        queries["canonical_clusters"](spark, SF))

    # round-4 additions
    add("url_aliases",
        "RFC-3986 url normalization + alias clustering: the whole "
        "normalize chain (case/fragment/port/utm/param-sort) is one "
        "codegen'd string projection in the scan; only (canon, count) "
        "partials shuffle into the map-side-combined groupBy — the "
        "same single-Exchange shape as exact dedup, so frontier dedup "
        "at 10^12 urls costs one shuffle of skinny keys.",
        queries["url_aliases"](spark, SF))
    add("robots_precedence",
        "RFC 9309 longest-match: the directive table (hosts x a "
        "handful of Allow/Disallow rows) broadcasts into the fetch "
        "log; the per-url winner is max(struct(len, is_allow)) — an "
        "order-free aggregate with map-side partials — then one "
        "groupBy(host) rollup. The 10^12-row fetch side never "
        "shuffles for the join.",
        queries["robots_precedence"](spark, SF))
    add("semantic_dedup",
        "SemDeDup with the production-K codebook: list assignment is "
        "one broadcast-codebook Arrow stage materialized via "
        "localCheckpoint, so BOTH self-join sides read the assignment "
        "instead of re-running Python; the pair join is an equi-join "
        "on list_id (intra-cluster only, AQE-splittable) — plan size "
        "flat in K, so K≈sqrt(N) at production scale is a parameter.",
        queries["semantic_dedup"](spark, SF))
    add("cdx_index",
        "CDX capture index: SURT key, mime, digest, length are ONE "
        "codegen'd scan projection (no Python, no shuffle); the total "
        "order is Spark's RangePartitioning sort — sampled boundaries, "
        "one exchange, each output partition a contiguous cdx shard. "
        "This is the distributed equivalent of Hadoop's total-order "
        "partitioner CC uses to build cc-index.",
        queries["cdx_index"](spark, SF))
    add("cdx_shards",
        "cluster.idx ranges: per-host record counts aggregate FIRST "
        "(10^4x reduction, map-side combined); the running offset over "
        "the host table is the fan-in-4096 tree prefix sum "
        "(curation.ordered_prefix_sum) — every Window in this plan is "
        "partitioned by the range-group id, no Exchange SinglePartition "
        "window anywhere (pinned by tests/test_plans.py); the only "
        "SinglePartition exchange is the 1-row scalar total that rides "
        "a broadcast crossJoin.",
        queries["cdx_shards"](spark, SF))
    add("sitemap_urls",
        "sitemaps are ~1 row per host: the suffix filter pushes to the "
        "parquet scan, ONE page-sized regex captures whole <url> "
        "blocks, per-field extracts run on short block strings — the "
        "same one-pass shape as anchor_stats; the page corpus itself "
        "is never touched.",
        queries["sitemap_urls"](spark, SF))
    add("sitemap_freshness",
        "recrawl scheduling input: parsed locs equi-join the crawl log "
        "on (host, url) — both sides hash-partition once, no broadcast "
        "assumed (the urlset side is 10^10+ at scale); recrawl_due is "
        "a codegen'd timestamp comparison.",
        queries["sitemap_freshness"](spark, SF))

    out = [
        "# PLANS.md — physical-plan evidence (generated by tools/explain_plans.py)",
        "",
        f"Scale factor dir: `{SF}`; local[4]; AQE on (Spark's default). "
        "Each plan is printed before its frame runs, so it is the "
        "`AdaptiveSparkPlan … isFinalPlan=false` Catalyst produces, which "
        "AQE may still re-plan at runtime; a cached input that ran while "
        "the frame was built shows its final plan too.",
        "",
    ]
    for name, note, plan in sections:
        out += [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(path)

    # quick self-checks mirrored in tests/test_plans.py
    plan_by = dict((n, p) for n, _, p in sections)
    assert "html" not in plan_by["pages_metadata_scan"].split("ReadSchema")[1].splitlines()[0]
    assert "BroadcastHashJoin" in plan_by["point_lookup"]
    assert "TakeOrderedAndProject" in plan_by["jobs_listing"]
    spark.stop()


if __name__ == "__main__":
    main()
