"""Head-metadata tier: metadata extraction invariants, declared-vs-
detected language audit semantics, frontier-priority ordering, and
plan purity.

The reference service (/root/reference/app/main.py) has no notion of
head metadata, language audit, or recrawl scheduling; this tier is the
WAT-metadata / CCNet-audit / crawl-scheduler surface the webtext scope
calls for (see operators/pagemeta.py docstring).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_converter_api_spark.operators import linkgraph as L
from document_converter_api_spark.operators import pagemeta as M

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def meta(spark):
    return M.q_page_metadata(spark, SF).collect()


class TestPageMetadata:
    def test_every_page_has_head_fields(self, meta):
        assert len(meta) > 0
        for r in meta:
            assert r.title != "" and r.h1 != ""
            assert r.declared_lang in ("en", "es", "de")

    def test_n_links_agrees_with_link_extractor(self, spark, meta):
        """Cross-operator consistency: the metadata count of href
        attributes must equal the WAT extractor's per-page outlink
        rows — same corpus, two independent operators."""
        by_url = {r.url: r.n_links for r in meta}
        counts = (L.extract_links(L._pages_df(spark))
                  .groupBy("url").agg(F.count("*").alias("n")).collect())
        assert {r.url: r.n for r in counts} == {
            u: n for u, n in by_url.items() if n > 0}
        assert sum(by_url.values()) == sum(r.n for r in counts)

    def test_extraction_is_pure_catalyst(self, spark):
        plan = (M.q_page_metadata(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Join" not in plan


class TestLangAudit:
    @pytest.fixture(scope="class")
    def audit(self, spark):
        return M.q_lang_audit(spark, SF).collect()

    def test_match_rate_high_but_imperfect(self, audit):
        """The declared attribute and the content detector agree on the
        bulk of the corpus; the residue is short pages whose stopword
        hits tie and fall to the 'en' tie-break — a real audit finds
        real mismatches, it is not an identity check."""
        n = len(audit)
        matches = sum(r.match for r in audit)
        assert 0.9 * n < matches < n

    def test_mismatches_are_en_tiebreaks(self, audit):
        for r in audit:
            if not r.match:
                assert r.pred_lang == "en"
                assert r.declared_lang in ("es", "de")

    def test_match_flag_consistent(self, audit):
        for r in audit:
            assert r.match == int(r.pred_lang == r.declared_lang)
            hits = {"en": r.hits_en, "es": r.hits_es, "de": r.hits_de}
            assert hits[r.pred_lang] == max(hits.values())

    def test_audit_is_pure_catalyst(self, spark):
        plan = (M.q_lang_audit(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Join" not in plan


class TestFrontierPriority:
    @pytest.fixture(scope="class")
    def frontier(self, spark):
        return M.q_frontier_priority(spark, SF).collect()

    def test_covers_all_hosts_and_pages(self, spark, frontier, meta):
        hosts = {r.host for r in frontier}
        assert hosts == {u.split("/")[2] for u in (r.url for r in meta)}
        assert sum(r.n_pages for r in frontier) == len(meta)

    def test_fresh_hosts_never_queue(self, frontier):
        for r in frontier:
            assert r.priority >= 0
            if r.hours_stale == 0:
                assert r.priority == 0

    def test_unlinked_hosts_rank_zero(self, frontier):
        """Hosts with no cross-host edge are absent from the graph and
        coalesce to rank 0; every ranked host clears the teleport
        floor (0.15 / 16 nodes)."""
        ranked = [r for r in frontier if r.pagerank > 0]
        unranked = [r for r in frontier if r.pagerank == 0]
        assert ranked and unranked
        floor = L.LPR_TELEPORT / 16
        assert all(r.pagerank >= floor - 1e-12 for r in ranked)
        assert all(r.priority == 0 for r in unranked)

    def test_ordered_by_priority_desc(self, frontier):
        pris = [r.priority for r in frontier]
        assert pris == sorted(pris, reverse=True)


class TestHostQuality:
    @pytest.fixture(scope="class")
    def hq(self, spark):
        return M.q_host_quality(spark, SF).collect()

    def test_counts_consistent(self, hq):
        assert len(hq) > 0
        for r in hq:
            assert 0 < r.n_stopwords <= r.n_tokens
            assert r.n_pages > 0

    def test_flag_matches_thresholds(self, hq):
        for r in hq:
            expect = (r.stop_density < M.HQ_MIN_STOP_DENSITY
                      or r.toks_per_page < M.HQ_MIN_TOKS_PER_PAGE)
            assert r.low_quality == expect

    def test_gate_separates_hosts(self, hq):
        """The thresholds must actually partition the corpus — a gate
        that passes or fails everything tests nothing."""
        flags = {r.low_quality for r in hq}
        assert flags == {True, False}


class TestCrawlBudget:
    @pytest.fixture(scope="class")
    def budget(self, spark):
        return M.q_crawl_budget(spark, SF).collect()

    def test_budget_fully_allocated(self, budget):
        assert sum(r.alloc for r in budget) == M.CRAWL_BUDGET

    def test_alloc_is_base_plus_binary_topup(self, budget):
        for r in budget:
            assert r.topup in (0, 1)
            assert r.alloc == r.base + r.topup

    def test_within_one_slot_of_proportional(self, budget):
        """Largest-remainder = every host within 1 slot of its ideal
        fractional share (the classic quota property)."""
        tot = sum(r.ppb for r in budget)
        for r in budget:
            ideal = M.CRAWL_BUDGET * r.ppb / tot
            assert ideal - 1 < r.alloc < ideal + 1

    def test_same_hosts_as_frontier(self, spark, budget):
        fr = M.q_frontier_priority(spark, SF).collect()
        assert {r.host for r in budget} == {r.host for r in fr}


class TestTemplateDetect:
    @pytest.fixture(scope="class")
    def clusters(self, spark):
        return M.q_template_detect(spark, SF).collect()

    def test_finds_real_clusters(self, clusters):
        assert len(clusters) > 0
        assert all(r.n_pages >= 2 for r in clusters)

    def test_cluster_members_share_skeleton(self, spark, clusters):
        """Recompute the collapsed tag sequence in plain Python for the
        largest cluster's host and check every member pair matches —
        the structural grouping is real, not a hash accident."""
        import re
        top = max(clusters, key=lambda r: r.n_pages)
        rows = (L._pages_df(spark)
                .filter(F.col("url").startswith(f"https://{top.host}/"))
                .select("url", "html").collect())
        def skeleton(html: bytes) -> str:
            tags = re.findall(r"<([a-z][a-z0-9]*)", html.decode("utf-8"))
            out = []
            for t in tags:
                if not out or out[-1] != t:
                    out.append(t)
            return "/".join(out)
        import hashlib
        by_tpl = {}
        for r in rows:
            tid = hashlib.md5(skeleton(r.html).encode()).hexdigest()
            by_tpl.setdefault(tid, []).append(r.url)
        assert len(by_tpl[top.template_id]) == top.n_pages
        assert top.example_url == min(by_tpl[top.template_id])

    def test_content_blind(self, clusters, spark):
        """Members of a structural cluster still differ in text — the
        signal is orthogonal to content dedup (no duplicate bodies
        exist in the fixture at all)."""
        page = F.decode("html", "UTF-8")
        n_dup_bodies = (L._pages_df(spark)
                        .groupBy(F.md5(page).alias("h"))
                        .count().filter("count > 1").count())
        assert n_dup_bodies == 0 and len(clusters) > 0


class TestReadability:
    @pytest.fixture(scope="class")
    def scores(self, spark):
        return M.q_readability(spark, SF).collect()

    def test_counts_match_python_recompute(self, spark, scores):
        """Sentence/word/syllable counts equal an independent re-read
        of the fixture text with Python's re module."""
        import re as _re
        texts = {r.url: r.text for r in
                 L._pages_df(spark).select("url", "text").collect()}
        for r in scores[:50]:
            t = texts[r.url]
            assert r.n_sentences == max(1, len(_re.findall(r"[.!?]+", t)))
            assert r.n_words == max(1, len(_re.findall(r"[a-z]+", t.lower())))
            assert r.n_syllables == len(_re.findall(r"[aeiouy]+", t.lower()))

    def test_score_formula(self, scores):
        for r in scores:
            wps = r.n_words / r.n_sentences
            spw = r.n_syllables / r.n_words
            assert abs(r.flesch - (206.835 - 1.015 * wps - 84.6 * spw)) < 5e-4
            assert r.band in ("very_easy", "easy", "standard",
                              "difficult", "very_difficult")

    def test_corpus_is_not_degenerate(self, scores):
        """Fixture sentences are 6-14 word-soup words — the corpus must
        spread across bands rather than collapse into one."""
        assert len({r.band for r in scores}) >= 2

    def test_is_pure_scan_projection(self, spark):
        plan = (M.q_readability(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Join" not in plan


def test_planted_turkish_page_matches_oracles(spark, tmp_path, monkeypatch):
    """The smoke pages plus one page of Turkish dotted capitals and a Greek
    word-final Σ: the three queries that lowercase page text equal their
    DuckDB oracles on it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.check_oracle import check_parity

    url = "https://tr.example/istanbul.html"
    text = "İT İS İN THE İSTANBUL ΟΔΟΣ. İZMİR is it."
    smoke = pq.read_table(L.pages_path())
    page = pa.table({
        "url": [url], "warc_ts": smoke.column("warc_ts").slice(0, 1),
        "html": [f'<html lang="en"><body><p>{text}</p></body></html>'
                 .encode()],
        "text": [text], "lang": ["en"]}, schema=smoke.schema)
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pa.concat_tables([smoke, page]), path)
    monkeypatch.setenv("SPARK_GRAFT_PAGES", path)
    con = duckdb.connect()
    for name, q in (("lang_audit", M.q_lang_audit),
                    ("readability", M.q_readability),
                    ("host_quality", M.q_host_quality)):
        sql = M.PAGEMETA_ORACLES[name].replace("__PAGES_PARQUET__", path)
        check_parity(q(spark, SF), con.execute(sql))
    # İT İS İN THE is it: the page does exercise the case map
    audit = M.q_lang_audit(spark, SF).filter(F.col("url") == url).first()
    assert audit.hits_en == 6
