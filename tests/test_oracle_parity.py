"""Oracle-parity inside pytest at sf0.001: a fast subset of the driver's
DuckDB gate (full surface: ``python tools/check_oracle.py``), plus every
query whose oracle reads ``documents.text``, run with non-ASCII rows planted
into a copy of the corpus (the oracle corpora are ASCII-only)."""

from __future__ import annotations

import os
import re
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_oracle import check_parity, connect  # noqa: E402

SF = "/root/testdata/sf0.001"

# cheap-but-representative subset: one per operator family (the
# documents.text queries run in TEXT_QUERIES instead)
SUBSET = (
    "status_counts", "jobs_listing", "point_lookup", "tpch_q1", "window_rank",
    "json_props", "ann_cosine_topk", "multimodal_decode", "host_stats_salted",
    "rollup_stats", "distinct_users", "except_users", "top_revenue_orders",
    "download_names", "region_revenue", "part_type_share", "shipping_priority",
    "big_orders", "sessionize", "bucketed_join", "ann_ivf", "crawl_rate",
    "value_percentiles", "multimodal_frame_sample",
    "multimodal_audio_features", "mix_sample", "blocklist_filter",
    "split_assign", "domain_pagerank", "politeness_audit", "weighted_sample",
    "range_join_variable",
)

ORACLES = entrymod.oracle_sql()
TEXT_QUERIES = tuple(
    name for name, sql in ORACLES.items()
    if re.search(r"\bdocuments\b", sql) and re.search(r"\btext\b", sql))

# (doc_id, text, lang, source), appended to sf0.001's documents
PLANTED = [
    (90001, "ΟΔΟΣ οδος ΤΗΣ της the of and ΟΔΟΣ ΤΗΣ the of and", "en", "src0"),
    (90002, "İSTANBUL istanbul İZMİR izmir the and a to İSTANBUL the and a to",
     "en", "src1"),
    (90003, "STRAẞE straße Straße FUSS fuß der die das und STRAẞE der die "
     "das und", "de", "src2"),
    (90004, "ǄEMAL ǆemal ǅemal ﬁle FILE the el la ǄEMAL ǆemal the el la",
     "es", "src0"),
    (90005, "İT İS İN THE ΟΔΟΣ οδος", "en", "src1"),
]


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    """(sf_dir, DuckDB connection) for sf0.001 and for a copy of it with
    ``PLANTED`` appended to documents.parquet; the other tables are copied
    unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf0.001_planted")
    for name in os.listdir(SF):
        if name != "documents.parquet":
            shutil.copy(os.path.join(SF, name), out)
    docs = pq.read_table(f"{SF}/documents.parquet")
    doc_id, text, lang, source = zip(*PLANTED)
    extra = pa.table({"doc_id": doc_id, "text": text, "lang": lang,
                      "source": source, "n_chars": [len(t) for t in text]},
                     schema=docs.schema)
    pq.write_table(pa.concat_tables([docs, extra]),
                   str(out / "documents.parquet"))
    planted = str(out)
    return {"plain": (SF, connect(SF)), "planted": (planted, connect(planted))}


@pytest.mark.parametrize("name", SUBSET + TEXT_QUERIES)
def test_query_matches_oracle(spark, corpora, name):
    sf, con = corpora["planted" if name in TEXT_QUERIES else "plain"]
    check_parity(entrymod.queries()[name](spark, sf),
                 con.execute(ORACLES[name]))


# word-final and lone Σ/σ/ς, İ, ẞ/ß, Ǆ/ǅ/ǆ, ﬁ, Kelvin K, Ohm Ω,
# Ångström Å, accented Greek capitals, and the empty string
TOKENIZER_PROBES = [
    "ΟΔΟΣ ΤΗΣ ΠΟΛΗΣ", "Σ σ ς ΣΣ", "İSTANBUL İZMİR İ", "STRAẞE ẞ ß",
    "ǄEMAL Ǆ ǅ ǆ", "ﬁle ﬁ FILE", "\u212a \u2126 \u212b", "ΆΪ", "",
]


def test_tokenizer_agrees_across_engines(spark):
    """Spark ``words`` = DuckDB ``words_sql`` = Python ``words_py``."""
    import duckdb

    from document_converter_api_spark.functions.expressions import (
        words, words_py, words_sql,
    )
    want = [words_py(s) for s in TOKENIZER_PROBES]
    got = spark.createDataFrame(list(enumerate(TOKENIZER_PROBES)),
                                "i int, text string")
    assert [r.w for r in got.orderBy("i").select(
        words("text").alias("w")).collect()] == want
    con = duckdb.connect()
    assert [con.execute(f"SELECT {words_sql('?')}", [s]).fetchone()[0]
            for s in TOKENIZER_PROBES] == want


def test_every_query_has_callable_signature():
    qs = entrymod.queries()
    assert len(qs) >= 30
    # every oracle key must have a query; rows-only queries are allowed
    assert set(ORACLES) <= set(qs)
    assert len(TEXT_QUERIES) >= 43


def test_connect_reads_a_table_spark_wrote(spark, tmp_path):
    """Spark writes a table as a directory of part files; ``connect``'s
    view over it reads every part."""
    path = tmp_path / "documents.parquet"
    spark.range(10).repartition(3).withColumnRenamed("id", "doc_id") \
        .write.parquet(str(path))
    assert len(list(path.glob("*.parquet"))) == 3
    assert connect(str(tmp_path)).execute(
        "SELECT count(*), sum(doc_id) FROM documents").fetchone() == (10, 45)
