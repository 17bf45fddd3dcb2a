"""Robots-exclusion tier: rule-parse parity with Python, compliance
join semantics, broadcast plan shape, and the extraction-gate seam
(robots rows are rejected content, consumed only by this tier)."""

from __future__ import annotations

import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from document_converter_api_spark.operators import robots as R
from document_converter_api_spark.operators.linkgraph import pages_path

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def raw():
    t = pq.read_table(pages_path())
    return list(zip(t["url"].to_pylist(), t["html"].to_pylist()))


@pytest.fixture(scope="module")
def rules(spark):
    return R.q_robots_rules(spark, SF).collect()


@pytest.fixture(scope="module")
def compliance(spark):
    return R.q_robots_compliance(spark, SF).collect()


class TestRules:
    def test_matches_python_recompute(self, raw, rules):
        exp = []
        for url, html in raw:
            if not url.endswith("/robots.txt"):
                continue
            host = re.match(r"^https?://([^/]+)", url).group(1)
            body = html.decode("ascii")
            delay = re.search(r"Crawl-delay: ([0-9]+)", body)
            delay = int(delay.group(1)) if delay else None
            found = re.findall(r"Disallow: (\S+)", body)
            if found:
                for rule in found:
                    exp.append((host, rule, delay))
            else:
                # delay-only robots: host must survive with rule NULL
                # (explode_outer — round-3 review)
                exp.append((host, None, delay))
        got = [(r.host, r.rule, r.crawl_delay) for r in rules]
        key = lambda t: (t[0], t[1] or "", t[2] or -1)  # noqa: E731
        assert sorted(got, key=key) == sorted(exp, key=key)
        assert len(exp) > 0

    def test_every_host_publishes(self, rules):
        hosts = {r.host for r in rules}
        assert len(hosts) == 20
        # a delay-only host keeps its crawl_delay despite zero rules
        delay_only = [r for r in rules if r.rule is None]
        assert delay_only and all(r.crawl_delay is not None
                                  for r in delay_only)


class TestCompliance:
    def test_matches_python_recompute(self, raw, compliance):
        rules_by_host: dict[str, set] = {}
        for url, html in raw:
            if url.endswith("/robots.txt"):
                host = re.match(r"^https?://([^/]+)", url).group(1)
                rules_by_host[host] = set(
                    re.findall(r"Disallow: (\S+)", html.decode("ascii")))
        exp: dict[str, list] = {}
        for url, _ in raw:
            if url.endswith("/robots.txt"):
                continue
            host = re.match(r"^https?://([^/]+)", url).group(1)
            path = re.sub(r"^https?://[^/]+", "", url)
            row = exp.setdefault(host, [0, 0, set()])
            row[0] += 1
            row[1] = len(rules_by_host.get(host, ()))
            if any(path.startswith(ru) for ru in rules_by_host.get(host, ())):
                row[2].add(url)
        got = {r.host: (r.n_fetched, r.n_rules, r.n_violations,
                        r.first_violation) for r in compliance}
        for host, (n, nr, viol) in exp.items():
            assert got[host] == (
                n, nr, len(viol), min(viol) if viol else None)

    def test_violations_exist_and_are_language_paths(self, compliance):
        """At least one host disallows /de/ or /es/ and has fetched
        pages under it — the audit finds a real residue."""
        v = [r for r in compliance if r.n_violations > 0]
        assert v
        assert all(re.search(r"/(de|es)/", r.first_violation) for r in v)

    def test_rules_join_is_broadcast(self, spark):
        plan = (R.q_robots_compliance(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestExtractionSeam:
    def test_robots_rows_are_rejected_content(self, raw):
        """The format gate must tag robots.txt as unsupported — crawl
        metadata never leaks into the corpus."""
        from document_converter_api_spark.extraction.core import (
            extract_document,
        )
        rows = [(u, h) for u, h in raw if u.endswith("/robots.txt")]
        assert len(rows) == 20
        for url, html in rows:
            res = extract_document(html, url)
            assert res.markdown is None
            assert res.error.startswith("unsupported_content_type")


class TestDelayCompliance:
    @pytest.fixture(scope="module")
    def report(self, spark):
        return R.q_delay_compliance(spark, SF).collect()

    def test_matches_python_recompute(self, raw, report):
        """Per-host min/mean gap + compliance equal a byte-level
        Python pass over the fixture timestamps and robots bodies."""
        import pyarrow.parquet as pq
        from collections import defaultdict
        t = pq.read_table(pages_path())
        by_host = defaultdict(list)
        delays = {}
        for url, ts, html in zip(t["url"].to_pylist(),
                                 t["warc_ts"].to_pylist(),
                                 t["html"].to_pylist()):
            host = re.match(r"^https?://([^/]+)", url).group(1)
            if url.endswith("/robots.txt"):
                m = re.search(rb"Crawl-delay: ([0-9]+)", html)
                if m:
                    delays[host] = int(m.group(1))
                continue
            by_host[host].append((int(ts.timestamp() * 1_000_000), url))
        got = {r.host: r for r in report}
        for host, rows in by_host.items():
            if len(rows) < 2:
                # single-fetch hosts stay in the audit: no gaps, but a
                # declared delay must be visible (vacuously compliant)
                r = got[host]
                assert r.n_fetches == len(rows)
                assert r.min_gap_us is None and r.mean_gap_s is None
                assert r.crawl_delay == delays.get(host)
                assert r.compliant
                continue
            rows.sort()
            gaps = [b[0] - a[0] for a, b in zip(rows, rows[1:])]
            r = got[host]
            assert r.n_fetches == len(rows)
            assert r.min_gap_us == min(gaps)
            assert r.crawl_delay == delays.get(host)
            want = (delays.get(host) is None
                    or min(gaps) >= delays[host] * 1_000_000)
            assert r.compliant == want

    def test_single_fetch_host_and_legacy_bytes_parity(
            self, spark, tmp_path, monkeypatch):
        """Two round-3 advice items on one synthetic corpus: (a) a host
        fetched exactly ONCE that declares a Crawl-delay appears in the
        audit (gap columns NULL, vacuously compliant) instead of
        silently vanishing; (b) a robots.txt body carrying a non-UTF-8
        byte (latin-1 0xE9) flows through BOTH engines — the DuckDB
        oracle reconstructs ISO-8859-1 text from hex pairs, so strict
        decode() can no longer crash it."""
        import datetime as dt

        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pqw

        from tools.check_oracle import check_parity

        t0 = dt.datetime(2026, 1, 1)
        rows = [
            ("https://solo.ex/robots.txt", t0,
             b"Disallow: /priv\xe9/\nCrawl-delay: 5\n", None, None),
            ("https://solo.ex/only.html", t0 + dt.timedelta(seconds=1),
             b"<html></html>", None, None),
            ("https://multi.ex/robots.txt", t0, b"Crawl-delay: 2\n",
             None, None),
            ("https://multi.ex/a.html", t0 + dt.timedelta(seconds=10),
             b"<html></html>", None, None),
            ("https://multi.ex/b.html", t0 + dt.timedelta(seconds=13),
             b"<html></html>", None, None),
        ]
        path = str(tmp_path / "pages.parquet")
        pqw.write_table(pa.table(
            {"url": [r[0] for r in rows],
             "warc_ts": pa.array([r[1] for r in rows],
                                 pa.timestamp("us")),
             "html": pa.array([r[2] for r in rows], pa.binary()),
             "text": [r[3] for r in rows],
             "lang": [r[4] for r in rows]}), path)
        monkeypatch.setenv("SPARK_GRAFT_PAGES", path)

        got = {r.host: r for r in R.q_delay_compliance(spark, SF).collect()}
        solo = got["solo.ex"]
        assert solo.n_fetches == 1
        assert solo.min_gap_us is None and solo.mean_gap_s is None
        assert solo.crawl_delay == 5 and solo.compliant
        multi = got["multi.ex"]
        assert multi.n_fetches == 2 and multi.min_gap_us == 3_000_000
        assert multi.crawl_delay == 2 and multi.compliant

        # the non-UTF-8 rule byte is read identically on both sides
        rules = R.q_robots_rules(spark, SF).collect()
        assert ("solo.ex", "/privé/") in {(r.host, r.rule)
                                               for r in rules}

        # full oracle parity on this corpus, both affected queries
        con = duckdb.connect()
        for name, q in (("delay_compliance", R.q_delay_compliance),
                        ("robots_rules", R.q_robots_rules)):
            sql = R.ROBOTS_ORACLES[name].replace("__PAGES_PARQUET__", path)
            check_parity(q(spark, SF), con.execute(sql))

    def test_fixture_crawl_is_polite(self, report):
        """The deterministic 7-minute timestamp walk can never violate
        a <=10s declared delay — and declared delays DO exist."""
        assert any(r.crawl_delay is not None for r in report)
        assert all(r.compliant for r in report)

    def test_single_shuffle_plus_broadcast(self, spark):
        plan = (R.q_delay_compliance(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan


class TestPrecedenceAndSitemaps:
    @pytest.fixture(scope="class")
    def prec(self, spark):
        return {r.host: r for r in
                R.q_robots_precedence(spark, SF).collect()}

    def test_matches_python_recompute(self, raw, prec):
        """RFC 9309 longest-match with Allow-wins-ties, re-derived
        byte-level in Python over the fixture robots bodies."""
        dirs = {}
        for url, html in raw:
            if not url.endswith("/robots.txt"):
                continue
            host = re.match(r"^https?://([^/]+)", url).group(1)
            body = html.decode("latin-1")
            dirs[host] = (
                [(r, 1) for r in re.findall(r"Allow: (\S+)", body)]
                + [(r, 0) for r in re.findall(r"Disallow: (\S+)", body)])
        exp = {}
        for url, _ in raw:
            if url.endswith("/robots.txt"):
                continue
            host = re.match(r"^https?://([^/]+)", url).group(1)
            path = re.sub(r"^https?://[^/]+", "", url)
            matched = [(len(r), a) for r, a in dirs.get(host, ())
                       if path.startswith(r)]
            row = exp.setdefault(host, [0, 0, 0, None])
            row[0] += 1
            if matched:
                best = max(matched)  # longest, then allow wins the tie
                if best[1] == 0:
                    row[1] += 1
                    if row[3] is None or url < row[3]:
                        row[3] = url
                elif any(a == 0 for _, a in matched):
                    row[2] += 1
        for host, (n, nb, nr, fb) in exp.items():
            r = prec[host]
            assert (r.n_fetched, r.n_blocked, r.n_rescued,
                    r.first_blocked) == (n, nb, nr, fb), host

    def test_allow_carveouts_rescue_fetches(self, prec):
        """The fixture plants Allow: /xx/page-0001 under Disallow: /xx/
        — at least one host must show rescued fetches, and rescued hosts
        must also still have blocked fetches (the carve-out is partial,
        so precedence genuinely diverges from any-Disallow auditing)."""
        rescued = [r for r in prec.values() if r.n_rescued > 0]
        assert rescued
        assert any(r.n_blocked > 0 for r in rescued)

    def test_directive_join_is_broadcast(self, spark):
        plan = (R.q_robots_precedence(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_sitemap_directives(self, spark, raw):
        by_host: dict[str, list] = {}
        for r in R.q_sitemap_directives(spark, SF).collect():
            by_host.setdefault(r.host, []).append(r)
        assert len(by_host) == 20, "every host stays in the audit"
        declared = {re.match(r"^https?://([^/]+)", u).group(1):
                    [m.decode() for m in re.findall(rb"Sitemap: (\S+)", h)]
                    for u, h in raw if u.endswith("/robots.txt")}
        crawled = {u for u, _ in raw}
        for host, urls in declared.items():
            got = by_host[host]
            if urls:
                # ONE row per declared sitemap (multiple Sitemap: lines
                # are legal and must all surface)
                assert sorted(r.sitemap_url for r in got) == sorted(urls)
                assert all(r.has_sitemap for r in got)
            else:
                assert len(got) == 1
                assert got[0].sitemap_url is None
                assert not got[0].has_sitemap
            for r in got:
                # per-URL flag: the planted sitemap.xml is fetched, the
                # declared-but-never-planted sitemap-news.xml is not
                assert r.already_fetched == (r.sitemap_url in crawled)
        assert sum(len(u) for u in declared.values()) > sum(
            1 for u in declared.values() if u), "multi-declaration hosts"
        fetched_flags = [r.already_fetched
                         for rows_ in by_host.values() for r in rows_
                         if r.sitemap_url is not None]
        assert any(fetched_flags) and not all(fetched_flags)


@pytest.mark.parametrize("eol", ["\n", "\r\n", "\r"],
                         ids=["lf", "crlf", "cr"])
def test_directive_parsing_is_rfc9309_flexible(spark, tmp_path, eol):
    """RFC 9309 §2.1 (round-4 advice): directive names case-insensitive,
    whitespace around the colon flexible, directives anchored at line
    start (case-insensitively 'allow:' occurs INSIDE 'Disallow:', so
    only the anchor keeps them distinct), comments and lookalike names
    never match. Both engines read the hostile body through their
    line-ending-normalized body expression and parse it identically,
    whatever the line terminator (Java's multiline ^ also matches after
    a bare CR, RE2's does not)."""
    import duckdb
    import pyarrow as pa

    body = eol.join(["User-agent: *",
                     "allow:/lower",
                     "DISALLOW: /upper",
                     "Disallow: /canonical",
                     " \tdisAllow \t: /padded",
                     "crawl-delay : 7",
                     "SITEMAP: https://h.example/s.xml",
                     "# allow: /commented-out",
                     "Xdisallow: /lookalike", ""])
    row = {"url": "https://h.example/robots.txt", "html": body.encode("ascii")}
    pages = spark.createDataFrame([tuple(row.values())],
                                  "url string, html binary")
    rows = R.robots_rules(pages).collect()
    assert sorted(r["rule"] for r in rows) == [
        "/canonical", "/padded", "/upper"]
    assert all(r["crawl_delay"] == 7 for r in rows)

    want = (["/lower"], ["/canonical", "/padded", "/upper"], ["7"],
            ["https://h.example/s.xml"])
    patterns = (R.ALLOW_RE, R.DISALLOW_RE, R.DELAY_RE, R.SITEMAP_RE)
    got = pages.select(*[F.regexp_extract_all(R._body(), F.lit(p), 1)
                         for p in patterns]).first()
    assert tuple(sorted(g) for g in got) == want

    path = str(tmp_path / "robots.parquet")
    pq.write_table(pa.Table.from_pylist([row]), path)
    cte = R._BODIES_CTE.replace("__PAGES_PARQUET__", path)
    extracts = ", ".join(f"regexp_extract_all(body, '{p}', 1)"
                         for p in patterns)
    got = duckdb.connect().execute(
        f"WITH {cte} SELECT {extracts} FROM bodies").fetchone()
    assert tuple(sorted(g) for g in got) == want
