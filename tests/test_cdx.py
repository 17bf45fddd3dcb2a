"""CDX/SURT URL-index tier (operators/cdx.py): SURT canonicalization
edge cases, index/shard/revisit invariants, and the scale-critical plan
shapes (projection-only record builder; no window over page rows in the
shard assigner)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from document_converter_api_spark.operators.cdx import (
    NSHARDS,
    _captures,
    cdx_records,
    q_cdx_index,
    q_cdx_revisits,
    q_cdx_shards,
    surt_key,
)

from .conftest import plan_of


def _surt(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(surt_key(F.col("url")).alias("k")).first()["k"]


def test_surt_canonicalization_rules(spark):
    # host labels reversed + lowercased, one leading www. stripped
    assert (_surt(spark, "https://WWW.Sub.Example.COM/A/B.html")
            == "com,example,sub)/a/b.html")
    # default ports stripped, scheme irrelevant to the key
    assert (_surt(spark, "http://host.example:80/p")
            == _surt(spark, "https://host.example:443/p")
            == "example,host)/p")
    # fragment dropped, query params sorted, empty path -> '/'
    assert (_surt(spark, "https://h.example/?b=2&a=1#frag")
            == "example,h)/?a=1&b=2")
    # non-default port survives (a distinct authority)
    assert _surt(spark, "https://h.example:8080/p") == "example,h:8080)/p"
    # only a LEADING www label is stripped
    assert _surt(spark, "https://api.www.example/p") == "example,www,api)/p"


def test_planted_variants_collapse_onto_base_key(spark):
    recs = cdx_records(_captures(spark))
    # the WWW./uppercase and :80 variants share the base surt_key ->
    # every such key has >= 3 captures with identical digests
    multi = (recs.groupBy("surt_key")
             .agg(F.count("*").alias("n"),
                  F.countDistinct("digest").alias("nd"),
                  F.countDistinct("orig_url").alias("nu"))
             .filter(F.col("n") >= 3))
    rows = multi.collect()
    assert rows, "planted variants must collapse onto base SURT keys"
    for r in rows:
        assert r["nd"] == 1, "same payload -> same digest per key"
        assert r["nu"] == r["n"], "each capture keeps its original url"
    # the ?b=2&a=1 variant lands on a NEW key with sorted params
    q = recs.filter(F.col("surt_key").endswith("?a=1&b=2"))
    assert q.count() > 0


def test_cdx_index_is_totally_ordered(spark):
    rows = q_cdx_index(spark, "").collect()
    keys = [(r["surt_key"], r["ts14"], r["orig_url"]) for r in rows]
    assert keys == sorted(keys)
    base = _captures(spark).count()
    assert len(rows) == base


def test_shards_partition_the_index(spark):
    recs = cdx_records(_captures(spark))
    shards = q_cdx_shards(spark, "").collect()
    assert 1 <= len(shards) <= NSHARDS
    assert sum(r["n_records"] for r in shards) == recs.count()
    host_key = F.regexp_extract("surt_key", "^([^)]*)\\)", 1)
    n_hosts = recs.select(host_key.alias("h")).distinct().count()
    assert sum(r["n_hosts"] for r in shards) == n_hosts
    # contiguous, non-overlapping ranges in shard order
    for a, b in zip(shards, shards[1:]):
        assert a["shard_id"] < b["shard_id"]
        assert a["start_key"] <= a["end_key"] < b["start_key"]


def test_revisit_audit_invariants(spark):
    recs = cdx_records(_captures(spark)).collect()
    lengths = {}
    counts = {}
    for r in recs:
        counts[r["digest"]] = counts.get(r["digest"], 0) + 1
        lengths[r["digest"]] = r["length"]
    rows = q_cdx_revisits(spark, "").collect()
    got = {r["digest"]: r for r in rows}
    want = {d: n for d, n in counts.items() if n > 1}
    assert set(got) == set(want)
    for d, r in got.items():
        assert r["n_captures"] == want[d]
        assert r["n_revisits"] == want[d] - 1
        assert r["bytes_saved"] == (want[d] - 1) * lengths[d]


def test_record_builder_is_shuffle_free(spark):
    plan = plan_of(cdx_records(_captures(spark)))
    assert "Exchange" not in plan, (
        "SURT/mime/digest projection must stay in the scan stage")
    assert "Python" not in plan and "Arrow" not in plan, (
        "the record builder is pure Catalyst")


def test_shard_window_runs_on_host_table_not_pages(spark):
    plan = plan_of(q_cdx_shards(spark, ""))
    # the running-offset Window must run over the HOST table (10^4x
    # reduction), never directly over raw capture rows. Since the
    # prefix sum localCheckpoints the range-partitioned host frame,
    # the window's subtree bottoms out at the checkpoint scan
    # (ExistingRDD) whose row is (host_key, n_recs, grp) — no parquet
    # scan, no url/html column anywhere below the Window.
    w = plan.index("Window")
    below = plan[w:]
    assert "Scan ExistingRDD" in below, (
        "offset window must read the checkpointed host table")
    assert "Scan parquet" not in below, (
        "offset window subtree must never touch page rows")
    assert "host_key" in below and "html" not in below


def test_cdx_records_never_raise_on_adversarial_urls(spark):
    """One Spark job over a generated adversarial corpus: weird
    authorities, unicode, junk queries/fragments, random payload bytes —
    the projection must stay total (no ANSI raise, no NULL keys) and the
    digest/length must match an independent Python recompute."""
    import binascii
    import hashlib
    import random
    from datetime import datetime, timedelta

    rng = random.Random(0xCD8)
    hosts = ["example.com", "WWW.Example.COM", "a.b.c.d.e.f", "xn--bcher-kva.tld",
             "h", "127.0.0.1", "host:8080", "host:80", "HOST:443", "www.w"]
    paths = ["", "/", "/A//B/..//c", "/%20%2F", "/été", "/p?b=2&a=1&a=1",
             "/p?", "/p?&&", "/p#f#g", "/robots.txt", "/x" * 200]
    rows = []
    base = datetime(2025, 6, 1)
    for i in range(300):
        url = (rng.choice(["https://", "http://"]) + rng.choice(hosts)
               + rng.choice(paths))
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 64)))
        rows.append((url, base + timedelta(seconds=i), payload))
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    got = cdx_records(df).collect()
    assert len(got) == 300
    by_url = {}
    for url, _, payload in rows:
        by_url.setdefault(url, payload)
    for r in got:
        assert r["surt_key"] is not None and ")" in r["surt_key"]
        assert len(r["digest"]) == 32
        assert len(r["ts14"]) == 14
        # digest/length are per-row; recompute only where the url is
        # unique in the input so the lookup is unambiguous
        if sum(1 for u, _, _ in rows if u == r["orig_url"]) == 1:
            payload = by_url[r["orig_url"]]
            want = hashlib.md5(
                binascii.hexlify(payload).upper()).hexdigest()
            assert r["digest"] == want
            assert r["length"] == len(payload)


def test_lookup_routes_and_counts(spark):
    from document_converter_api_spark.operators.cdx import q_cdx_lookup
    rows = q_cdx_lookup(spark, "").collect()
    assert rows
    hits = [r for r in rows if not r["query_url"].endswith("?nocache=1")]
    misses = [r for r in rows if r["query_url"].endswith("?nocache=1")]
    assert len(hits) == len(misses)
    # every sampled corpus url is in the index at least once; the
    # param-variant probes route but match nothing
    assert all(r["n_captures"] >= 1 and r["first_ts"] for r in hits)
    assert all(r["n_captures"] == 0 and r["first_ts"] is None
               for r in misses)
    # routing: the query's host key must fall inside its shard's range
    shards = {r["shard_id"]: r for r in q_cdx_shards(spark, "").collect()}
    for r in rows:
        if r["shard_id"] is not None:
            s = shards[r["shard_id"]]
            host = r["query_url"].split("/")[2].lower()
            hk = ",".join(reversed(host.split(".")))
            assert s["start_key"] <= hk <= s["end_key"]


def test_surt_percent_normalization(spark):
    """Round-5 SURT hardening: RFC 3986 pct-normalization in BOTH
    engines — uppercase hex, decode unreserved (lowercased in the path,
    case kept in the query), reserved escapes kept, invalid escapes
    verbatim, punycode hosts through the ordinary path. The same eight
    inputs are planted as captures (_PLANTED_PCT), so oracle parity on
    cdx_index re-proves the DuckDB twin on every run."""
    import duckdb

    from document_converter_api_spark.operators.cdx import (
        _H_SQL,
        _P_SQL,
        _PLANTED_PCT,
        _PS_SQL,
        _SURT_SQL,
    )

    expected = {
        # over-encoded unreserved decode; path-decoded chars lowercase
        "https://pct.example/%7Euser/%41bout/file%2dname.html":
            "example,pct)/~user/about/file-name.html",
        # mixed-case hex of non-ASCII bytes -> uppercase, KEPT
        "https://pct.example/caf%c3%a9/page%2fone.html":
            "example,pct)/caf%C3%A9/page%2Fone.html",
        # reserved %2F never decodes; the two spellings collapse
        "https://pct.example/a%2Fb.html": "example,pct)/a%2Fb.html",
        "https://pct.example/a%2fb.html": "example,pct)/a%2Fb.html",
        # invalid escapes (non-hex, truncated) pass through verbatim
        "https://pct.example/100%break/it.html":
            "example,pct)/100%break/it.html",
        "https://pct.example/trail%": "example,pct)/trail%",
        # ACE/punycode authority: ordinary lowercase/reverse path
        "https://xn--bcher-kva.example/b%C3%BCcher.html":
            "example,xn--bcher-kva)/b%C3%BCcher.html",
        # query: params sorted AFTER normalization, decoded case KEPT
        "https://pct.example/search.html?x=%7e&q=%41%25":
            "example,pct)/search.html?q=A%25&x=~",
    }
    assert set(expected) == {u for u, _ in _PLANTED_PCT}
    for url, want in expected.items():
        assert _surt(spark, url) == want, url

    vals = ", ".join(f"('{u}')" for u in expected)
    rows = duckdb.connect().execute(
        f"""SELECT url, {_SURT_SQL} AS k FROM (
              SELECT url, {_H_SQL} AS h, {_P_SQL} AS p, {_PS_SQL} AS ps
              FROM (VALUES {vals}) t(url))""").fetchall()
    assert {u: k for u, k in rows} == expected


def test_pct_normalization_is_idempotent_and_no_op_on_canonical(spark):
    # a %-free url is untouched (the coalesce('') regression guard),
    # and normalizing an already-normal key changes nothing
    assert (_surt(spark, "https://h.example/plain/path.html?q=1")
            == "example,h)/plain/path.html?q=1")
    once = _surt(spark, "https://pct.example/caf%c3%a9/x.html")
    again = _surt(spark, "https://pct.example/" + once.split(")/", 1)[1])
    assert once.split(")/", 1)[1] == again.split(")/", 1)[1]
