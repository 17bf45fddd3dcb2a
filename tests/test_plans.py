"""Physical-plan contracts (SURVEY.md §4): the 100 TB properties asserted.

These tests pin the *plan shape*, not timings — the properties that decide
whether the job survives a 1000-executor / 100 TB scale-up:
column pruning of the binary payload, filter pushdown to the parquet scan,
broadcast for point lookups, top-k instead of total sort, and exactly one
shuffle ahead of the Arrow extraction stage. Every pin's failure message
is the formatted plan; ``df.explain("formatted")`` prints any other.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from .conftest import PAGES_SMOKE, plan_of

SF = "/root/testdata/sf0.001"


def n_exchanges(plan: str) -> int:
    # formatted explain repeats node names in the details section — count
    # unique node ids, not string occurrences
    return len(set(re.findall(r"Exchange \(\d+\)", plan)))


def n_hash_exchanges(plan: str) -> int:
    # the keyed shuffles: widen()'s RoundRobinPartitioning, the final
    # orderBy's rangepartitioning and SinglePartition gathers are not counted
    return len(re.findall(r"Arguments: hashpartitioning", plan))


NO_PYTHON = ("Python", "MapInArrow", "MapInPandas")

# Registry query -> (plan fragments that must appear, fragments that must
# not, number of hashpartitioning Exchanges), each built at SF. Joins carry
# no hint unless the query gives one, so at SF auto-broadcast plans the
# small sides as BroadcastHashJoin; the scale notes in the operators'
# docstrings say what changes at corpus size.
PLAN_SHAPES = {
    # TPC-H shapes: every join broadcasts here, so the one keyed shuffle
    # is the aggregation's (Q18 pre-aggregates lineitem before any join)
    "orders_join": (("BroadcastHashJoin",), ("SortMergeJoin",), 1),
    "region_revenue": (("BroadcastHashJoin",), ("SortMergeJoin",), 1),
    "shipping_priority": (("BroadcastHashJoin", "TakeOrderedAndProject"),
                          ("SortMergeJoin",), 1),
    "big_orders": (("BroadcastHashJoin", "TakeOrderedAndProject"),
                   ("SortMergeJoin",), 1),
    "tpch_q1": (("partial_sum",), ("Join",), 1),
    "value_percentiles": (("percentile",), (), 1),
    # dedup: the signature or assignment stage runs once (a persisted
    # table or a checkpoint), and pairs come from equi-joins, never from
    # collect_set bucket arrays
    "dedup_minhash_lsh": (("MapInPandas", "InMemoryTableScan"),
                          ("collect_set",), 1),
    "semantic_dedup": (("Scan ExistingRDD",),
                       NO_PYTHON + ("CartesianProduct",), 2),
    "dedup_weights": (("SortMergeJoin", "partial_count"), (), 4),
    "line_dedup": (("Union",), NO_PYTHON, 2),
    "doc_line_dedup": (("row_number", "collect_list"), NO_PYTHON, 2),
    "doc_repetition": ((), NO_PYTHON, 2),
    # n-gram LMs: model tables and the 1-row total broadcast
    "bigram_logprob": (("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
                       ("SortMergeJoin",), 6),
    "perplexity_buckets": (("ntile", "BroadcastNestedLoopJoin"),
                           ("SortMergeJoin",), 7),
    # the one keyed shuffle is the map-side-combined report aggregation
    "weighted_sample": ((), ("Join",), 1),
    "length_buckets": (("partial_count",), ("Join",), 1),
    # scan-stage projections: no keyed shuffle, no Python, no join
    "gopher_rules": ((), NO_PYTHON + ("Join",), 0),
    "url_normalize": ((), NO_PYTHON + ("Join",), 0),
    "webhook_payloads": (("StructsToJson", "md5"), NO_PYTHON + ("Join",), 0),
    "page_metadata": ((), NO_PYTHON + ("Join",), 0),
    "lang_audit": ((), NO_PYTHON + ("Join",), 0),
    "charset_audit": ((), NO_PYTHON + ("Join",), 0),
    "sitemap_urls": (("StringEndsWith(url,/sitemap.xml)",),
                     NO_PYTHON + ("Join",), 0),
    "cdx_index": (("rangepartitioning(surt_key",), NO_PYTHON, 0),
    # one keyed shuffle serves the windows and the groupBy on that key
    "sessionize": (("Window",), (), 1),
    "host_cap_sample": (("row_number", "md5"), (), 1),
    "ann_ivf": (("BroadcastHashJoin",), NO_PYTHON, 1),
    "asof_join": (("Window", "partial_max_by"),
                  ("BroadcastNestedLoopJoin", "CartesianProduct"), 2),
    # sketches: map-side partial aggregates, tiny sides broadcast
    "kmv_distinct": (("TakeOrderedAndProject",), (), 2),
    "cms_topk": (("BroadcastHashJoin", "TakeOrderedAndProject",
                  "partial_count"), (), 3),
    "bloom_filter": (("BroadcastHashJoin", "partial_bit_or"),
                     ("SortMergeJoin",), 3),
    "histogram_quantiles": (("partial_count",), ("percentile",), 4),
    # link graph and crawl control
    "host_linkgraph": (("partial_count",), NO_PYTHON, 2),
    "anchor_stats": (("partial_count",), NO_PYTHON, 1),
    "link_pagerank": (("Scan ExistingRDD",),
                      ("CartesianProduct", "BroadcastNestedLoopJoin"), 1),
    "frontier_priority": (("BroadcastNestedLoopJoin",
                           "BroadcastHashJoin LeftOuter"), (), 2),
    "frontier_discovery": (("BroadcastHashJoin LeftAnti",), (), 2),
    "robots_precedence": (("BroadcastHashJoin", "SortMergeJoin"), (), 3),
    "canonical_clusters": (("partial_min",), ("Join",), 2),
    "host_quality": (("partial_sum",), ("Join",), 1),
    "template_detect": (("partial_count", "md5"), ("Join",), 1),
    "crawl_budget": (("TakeOrderedAndProject",), ("Window",), 4),
    "sitemap_freshness": (("BroadcastHashJoin",), ("SortMergeJoin",), 0),
}


@pytest.mark.parametrize("name", sorted(PLAN_SHAPES))
def test_plan_shape(spark, name):
    import __spark_entry__ as entrymod
    must, must_not, n_hash = PLAN_SHAPES[name]
    plan = plan_of(entrymod.queries()[name](spark, SF))
    got = ([f for f in must if f not in plan],
           [f for f in must_not if f in plan], n_hash_exchanges(plan))
    assert got == ([], [], n_hash), plan


def test_metadata_scan_prunes_html_and_pushes_filter(spark):
    pages = spark.read.parquet(PAGES_SMOKE)
    q = (pages.filter(F.col("lang") == "en")
         .groupBy("lang").agg(F.count("*").alias("n")))
    plan = plan_of(q)
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, f"binary payload must be pruned\n{plan}"
    pushed = scan.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed, f"lang predicate must reach the scan\n{plan}"


def test_extract_pipeline_has_single_exchange_before_arrow(spark):
    from document_converter_api_spark.operators.extract import extract_pipeline
    pages = spark.read.parquet(PAGES_SMOKE)
    results, _ = extract_pipeline(pages, num_partitions=8, shuffle_partitions=8)
    plan = plan_of(results)
    assert n_exchanges(plan) == 1, f"exactly one salted repartition\n{plan}"
    assert "MapInArrow" in plan, plan
    # the JVM gates filter rows before the shuffle, so rejects never move
    tree = plan.split("\n\n")[0]
    assert tree.index("Filter") > tree.index("Exchange"), plan


def test_point_lookup_broadcasts(spark):
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["point_lookup"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_jobs_listing_is_topk_not_total_sort(spark):
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["jobs_listing"](spark, SF))
    assert "TakeOrderedAndProject" in plan, f"top-k, not a total sort\n{plan}"


def test_expression_layer_is_pure_catalyst(spark):
    # the F-layer regex chain must compile to a single Project of JVM
    # expressions (codegen'd at runtime) — zero Python eval nodes
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["plain_text_format"](spark, SF))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                 "MapInPandas"):
        assert node not in plan, f"F-layer must be pure Catalyst\n{plan}"
    assert "regexp_replace" in plan.split("(2) Project")[1], \
        f"regex chain expected inside the Project node\n{plan}"


def test_resume_antijoin_plan_shape(spark):
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["resume_antijoin"](spark, SF))
    assert "LeftAnti" in plan, plan


def test_rollup_uses_expand(spark):
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["rollup_stats"](spark, SF))
    assert "Expand" in plan, plan
    assert n_hash_exchanges(plan) == 1, plan  # one shuffle for all sets


def test_bucketed_join_and_agg_have_zero_exchange(spark, tmp_path):
    """Bucketed co-location (sources/bucketed.py): the join shuffle moves
    into the one-time bucketed write; the join and a groupBy on the bucket
    key must then plan with ZERO Exchange."""
    from document_converter_api_spark.sources.bucketed import bucketed_pair

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"))
    embs = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).cast("int").alias("label"))
    bdocs, bembs = bucketed_pair(
        spark, docs, embs, "doc_id", "vec_id",
        base_dir=str(tmp_path), names=("tp_bdocs", "tp_bembs"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bdocs.join(bembs, bdocs.doc_id == bembs.vec_id) \
            .select("doc_id", "lang", "label")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert n_exchanges(plan) == 0, plan
        assert joined.count() == 400

        agg = bdocs.groupBy("doc_id").agg(F.count("*").alias("n"))
        aplan = plan_of(agg)
        assert n_exchanges(aplan) == 0, aplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tp_bdocs")
        spark.sql("DROP TABLE IF EXISTS tp_bembs")


def test_corpus_curation_single_pass_no_join(spark):
    """The end-to-end curation recipe must stay a single linear pass:
    dedup carries lang+text through the struct-min (NO join-back to
    recover columns), quality/lang signals are projections over the
    dedup output, and the only data-sized shuffle is the digest groupBy
    (the mix-report agg and its orderBy shuffle ≤ |langs|² rows)."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["corpus_curation"](spark, SF))
    assert "Join" not in plan, f"signals ride the struct-min, no join\n{plan}"
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower(), plan
    # widen() round-robin + digest groupBy + final agg + orderBy range
    assert n_exchanges(plan) <= 4, plan


def test_pii_redact_is_pure_catalyst(spark):
    """PII counting+redaction must stay JVM-side: a regexp chain in one
    codegen stage, no Python, no shuffle beyond widen + output sort."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["pii_redact"](spark, SF))
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert n_exchanges(plan) <= 2, plan  # widen round-robin + orderBy range


def test_decontaminate_broadcasts_benchmark_set(spark):
    """The eval-suite n-gram table is small by nature — the corpus-side
    13-gram stream must probe a BROADCAST of it, never shuffle against it,
    and nothing may plan as a cartesian product. The two keyed shuffles
    are the eval set's n-gram distinct and the hits' re-aggregation on
    doc_id."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert n_hash_exchanges(plan) == 2, plan


def test_token_pack_has_no_single_partition_window(spark):
    """The global running sum must use the two-phase (per-group cumsum +
    broadcast offsets) form. A naive Window.orderBy with no partition key
    would plan `Exchange SinglePartition` — the entire corpus through one
    task — which is exactly what this pins against."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["token_pack"](spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan and "BroadcastHashJoin" in plan, plan


def test_unicode_normalize_single_arrow_stage(spark):
    """NFC normalization is the one legitimately-Python stage: exactly one
    Arrow-batched eval node, no row-at-a-time BatchEvalPython."""
    plan_re = re.compile(r"ArrowEvalPython \(\d+\)")
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["unicode_normalize"](spark, SF))
    assert len(set(plan_re.findall(plan))) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_unigram_logprob_broadcasts_vocab_and_total(spark):
    """Vocab and the 1-row corpus total must both arrive by broadcast;
    the only data-sized shuffles are the three keyed aggregations, the
    vocab one planned twice (under the vocab and the total broadcasts)."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["unigram_logprob"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert n_hash_exchanges(plan) == 4, plan


def test_snapshot_diff_shuffles_digests_not_text(spark):
    """The crawl-diff join must carry 32-char md5 digests, not document
    bodies: no plan node below the join may reference the text column
    except inside the md5 projection (checked via the join's output
    attributes), and there is exactly one join."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["snapshot_diff"](spark, SF))
    joins = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
        r"[^\n(]*\((\d+)\)", plan)
    assert len(set(joins)) == 1, plan
    # md5 is computed BEFORE the shuffle: every Exchange that hash-
    # partitions on the join key must carry a digest column and never the
    # raw text payload
    key_exchanges = re.findall(
        r"\(\d+\) Exchange\nInput[^\n]*\nArguments: hashpartitioning"
        r"\(doc_id[^\n]*", plan)
    assert key_exchanges, plan
    for ex in key_exchanges:
        assert "text#" not in ex, ex
        assert "h_a#" in ex or "h_b#" in ex, ex


def test_mix_sample_broadcasts_stratum_thresholds(spark):
    """The per-language thresholds (K rows) must join back by BROADCAST
    and the draw-vs-threshold filter must stay a projection — the only
    data-sized shuffle is the count aggregation over the pruned lang
    column; no SortMergeJoin, no Python."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["mix_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_blocklist_filter_is_broadcast_anti_join(spark):
    """The deny-list must arrive by broadcast as a LEFT ANTI probe; the
    corpus side must never shuffle before the join (domain extraction is
    a scan-stage projection)."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["blocklist_filter"](spark, SF))
    m = re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan)
    assert m, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert n_hash_exchanges(plan) == 1, plan  # the report aggregation


def test_source_terms_broadcasts_vocab_sides(spark):
    """df (vocabulary-sized) and the 1-row source count must broadcast;
    the per-source top-k window must partition by source (never plan an
    Exchange SinglePartition); tokens stay JVM-side."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["source_terms"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert ("SinglePartition" not in plan
            or "BroadcastNestedLoopJoin" in plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_bm25_no_explode_and_topk(spark):
    """BM25 with literal probe terms must never explode the corpus into
    a (doc, term) table (no Generate), must take the 1-row corpus stats
    in by BROADCAST nested-loop (crossJoin), and must plan the final
    rank as TakeOrderedAndProject (per-partition heaps), not a total
    sort. The only Exchange is the stats row's SinglePartition gather —
    1 row per map task."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["bm25_search"](spark, SF))
    assert "Generate" not in plan, plan          # no explode
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the only non-fixture Exchange is the 1-row stats gather: no hash or
    # range partitioning of the corpus anywhere (widen()'s RoundRobin
    # repartitions are fixture-parallelism artifacts, excluded)
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("SinglePartition") >= 1, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_quality_classifier_is_shuffle_free_scoring(spark):
    """The hashed-linear scoring itself must be a scan-stage projection:
    no explode, no join, no aggregation — the single Exchange in the plan
    is the output ORDER BY (oracle determinism), not the scoring."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["quality_classifier"](spark, SF))
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan
    assert "hashpartitioning" not in plan, plan  # only the ORDER BY range
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_mojibake_repair_is_pure_catalyst(spark):
    """Detect+repair must be one codegen'd projection over the scan —
    the only Exchange is the output ORDER BY."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["mojibake_repair"](spark, SF))
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan, plan  # only the ORDER BY range


def test_split_assign_broadcasts_split_sizes(spark):
    """The 3-row per-split size table must come back by BROADCAST; the
    draw/split assignment must stay a projection (no corpus shuffle on
    the 3-value split key — a 3-partition anything at 10^12 rows is a
    skew bomb)."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["split_assign"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_domain_pagerank_round_is_join_plus_partial_agg(spark):
    """The returned plan must be ONE round's shape (localCheckpoint
    truncates lineage — without it the plan stacks five joins and
    planning time grows per iteration), with a map-side partial sum
    ahead of the groupBy(dst) shuffle and no nested-loop joins."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["domain_pagerank"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # checkpointed ranks, not lineage
    assert plan.count("Join") < 8, plan      # one round, not five stacked


def test_politeness_audit_single_keyed_shuffle(spark):
    """The lag window and the per-host re-aggregation must SHARE one hash
    Exchange on the host key — Catalyst reuses the window's partitioning
    for the groupBy, so exactly one hashpartitioning appears (the final
    ORDER BY adds a range partition; widen()'s RoundRobin is a fixture
    artifact)."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["politeness_audit"](spark, SF))
    assert plan.count("hashpartitioning(host") <= 2, plan  # 1 node + detail
    assert n_hash_exchanges(plan) == 1, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_incremental_dedup_bloom_broadcasts_and_exact_join_is_filtered(spark):
    """The 32-word Bloom state must reach the probe join by BROADCAST and
    the exact fingerprint stage must be a semi-join fed only by
    Bloom-positive candidates (a Filter on is_candidate sits under it) —
    the new crawl must never shuffle against the full historical corpus
    unfiltered."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["incremental_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "is_candidate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_variable_is_equi_join(spark):
    """Varying window widths must not degrade the plan to an inequality
    (nested-loop) join: the match stays a keyed equi-join on
    (user_id, bucket) with the exact range predicate as a post-filter."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["range_join_variable"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def _lambda_bodies(plan_str: str):
    out = []
    for m in re.finditer(r"lambdafunction\(", plan_str):
        i, depth = m.end(), 1
        while depth and i < len(plan_str):
            if plan_str[i] == "(":
                depth += 1
            elif plan_str[i] == ")":
                depth -= 1
            i += 1
        out.append(plan_str[m.end():i])
    return out


def test_no_split_inside_any_lambda(spark):
    """Regression for the O(words^2) class: `split(text)` must never be
    inlined INSIDE a higher-order lambda body — there it re-evaluates per
    ELEMENT (observed: a 1,300-CPU-second task when with_gopher_signals
    sat over an aggregate and CollapseProject inlined the split into the
    2-gram lambda). Checked on the optimized plans of every gram-heavy
    query AND the curation job's DAG (the composition that triggered
    it)."""
    import __spark_entry__ as entrymod
    from jobs.curate import curate
    targets = {}
    qs = entrymod.queries()
    for name in ("gopher_rules", "corpus_curation", "decontaminate",
                 "span_dedup", "dedup_simhash", "lang_id",
                 "doc_repetition"):
        targets[name] = qs[name](spark, SF)
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "lang", "text"))
    targets["curate_dag"] = curate(docs, ("en",))
    for name, df in targets.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for body in _lambda_bodies(plan):
            assert "split(" not in body, (
                f"{name}: split() inlined into a lambda "
                f"(per-element re-eval): {body[:200]}")


def test_bpe_pair_stats_topk_and_vocab_shuffle(spark):
    """Pair counting must end in TakeOrderedAndProject (per-partition
    heaps) and stay JVM-side; the explode is the intended fan-out."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["bpe_pair_stats"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_token_entropy_two_keyed_shuffles_max(spark):
    """(doc_id, tok) counts then per-doc window + re-agg: the window and
    the final groupBy share the doc_id partitioning, so at most two hash
    Exchanges appear; zero Python."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["token_entropy"](spark, SF))
    assert n_hash_exchanges(plan) <= 2, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_chunk_overlap_is_pure_catalyst(spark):
    """Sliding-window chunking: posexplode fan-out over a JVM transform,
    no Python anywhere, no join."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["chunk_overlap"](spark, SF))
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert "Join" not in plan, plan


def test_cdx_shards_has_no_unpartitioned_window(spark):
    """The cluster.idx running offset must never plan a window without a
    partition spec (Exchange SinglePartition over the whole host table —
    at 10^8 hosts a multi-GB single-task sort). The tree-fold rewrite
    (curation.ordered_prefix_sum) partitions every window by the range
    group id; pin it: every windowspecdefinition's FIRST argument is a
    partition column, not a sort spec."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["cdx_shards"](spark, SF))
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, f"expected at least one window (the per-group cumsum)\n{plan}"
    for spec in specs:
        first = spec.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, plan
