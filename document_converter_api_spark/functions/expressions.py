"""Catalyst expression library — the reference's scalar helpers (F1–F14,
SURVEY.md §2.8) compiled to built-in Spark SQL functions.

Everything here stays JVM-side inside WholeStageCodegen — zero Python — which
is the point: the reference computes these row-at-a-time in the request
handler (/root/reference/app/main.py:243-299), we compute them vectorized
over columns. Each function cites the reference line it reproduces; parity is
property-tested against the byte-exact Python oracles in
``extraction.postformat``.

The last section is the one lowercase-and-split of document and page text,
per engine; DuckDB's ``str_split(lower(text), ' ')`` is the spec. Java's
``toLowerCase`` and Python's ``str.lower`` map a word-final Σ to ς and İ to
i + U+0307 where DuckDB gives σ and i, so Catalyst and Python map
those two first. Out of scope, and not covered by the oracle gate: 43
single code points whose lowercase still differs because the engines ship
different Unicode versions (Python's UCD 14.0 vs DuckDB 1.0.0; e.g.
U+2C2F, U+10570).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference config constants (app/main.py:205-209).
MAX_FILE_SIZE = 50 * 1024 * 1024
LARGE_FILE_THRESHOLD = 5 * 1024 * 1024
CHUNK_SIZE = 1000
CHUNK_THRESHOLD = 10_000


# ---------------------------------------------------------------------------
# Content sniffing / routing (S2/P5)
# ---------------------------------------------------------------------------

def sniff_content_type_expr(payload: Column, url: Column) -> Column:
    """Magic-byte sniff + url-extension fallback; mirrors
    ``extraction.sniff.sniff_content_type`` (reference gate:
    app/main.py:221-236 + the ``filetype`` lib, requirements.txt:22).

    Uses hex(substring(...)) so invalid utf-8 payloads never error.
    """
    head4 = F.hex(F.substring(payload, 1, 4))
    head5 = F.hex(F.substring(payload, 1, 5))
    # Lenient text view of the head for the HTML marker scan. ISO-8859-1
    # maps every byte, so strict Spark-4 decode can never raise
    # MALFORMED_CHARACTER_CODING on binary junk.
    head_txt = F.lower(F.decode(F.substring(payload, 1, 256), "ISO-8859-1"))
    ext = F.lower(F.regexp_extract(url, r"\.([A-Za-z0-9]+)(?:[?#].*)?$", 1))
    is_htmlish = (
        head_txt.contains("<!doctype html")
        | head_txt.contains("<html")
        | head_txt.contains("<head")
        | head_txt.contains("<body")
        | F.ltrim(head_txt).startswith("<")
    )
    # BOM-prefixed markup: UTF-16LE '<', UTF-16BE '<', UTF-8 BOM + '<'
    # (mirrors sniff_content_type's BOM branch — UTF-16 bytes defeat
    # the latin-1 marker scan, so match the raw 4-byte prefix instead)
    is_bom_markup = head4.isin("FFFE3C00", "FEFF003C", "EFBBBF3C")
    return (
        F.when(head5 == F.lit("255044462D"), F.lit("pdf"))          # %PDF-
        .when(head4 == F.lit("504B0304"), F.lit("docx"))            # PK\x03\x04
        # explicit XML declaration → crawl metadata (sitemaps/feeds),
        # before the generic '<' heuristic claims it as html (mirrors
        # extraction.sniff.sniff_content_type)
        .when(F.ltrim(head_txt).startswith("<?xml"), F.lit("xml"))
        .when(is_htmlish, F.lit("html"))
        .when(is_bom_markup, F.lit("html"))
        .when(ext.isin("html", "htm", "xhtml"), F.lit("html"))
        .when(ext == "pdf", F.lit("pdf"))
        .when(ext == "docx", F.lit("docx"))
        .otherwise(F.lit("unknown"))
    )


def is_large_expr(payload: Column,
                  threshold: int = LARGE_FILE_THRESHOLD) -> Column:
    """P5 routing predicate (app/main.py:506,666; threshold :206) — reused
    as the size-based salting signal (SURVEY.md §4.2)."""
    return F.length(payload) > F.lit(threshold)


# ---------------------------------------------------------------------------
# F1–F14 scalar expressions
# ---------------------------------------------------------------------------

def sanitize_filename_expr(name: Column) -> Column:
    """F1 ≙ sanitize_filename (app/main.py:252-258): strip extension, drop
    non-[\\w\\s-], collapse [-\\s]+ → '-', trim '-'."""
    stem = F.regexp_replace(name, r"\.[^.\\/]*$", "")
    cleaned = F.regexp_replace(stem, r"[^\w\s-]", "")
    dashed = F.regexp_replace(cleaned, r"[-\s]+", "-")
    return F.regexp_replace(dashed, r"^-+|-+$", "")


def markdown_to_plain_expr(content: Column) -> Column:
    """F2 ≙ format_content_for_output(..., PLAIN_TEXT)
    (app/main.py:262-269). Order matters: headers, bold, italic, links,
    code — exactly the reference chain."""
    t = F.regexp_replace(content, r"#{1,6}\s+", "")
    t = F.regexp_replace(t, r"\*\*(.*?)\*\*", r"$1")
    t = F.regexp_replace(t, r"\*(.*?)\*", r"$1")
    t = F.regexp_replace(t, r"\[([^\]]+)\]\([^\)]+\)", r"$1")
    t = F.regexp_replace(t, r"`([^`]+)`", r"$1")
    return t


def markdown_to_gdocs_expr(content: Column) -> Column:
    """F3 ≙ format_content_for_output(..., GOOGLE_DOCS)
    (app/main.py:270-277). Literal str.replace (NOT regex): the '*' pass
    also eats list bullets — reproduced faithfully."""
    t = F.replace(content, F.lit("# "), F.lit(""))
    t = F.replace(t, F.lit("## "), F.lit(""))
    t = F.replace(t, F.lit("### "), F.lit(""))
    t = F.replace(t, F.lit("**"), F.lit(""))
    t = F.replace(t, F.lit("*"), F.lit(""))
    return t


def chunk_text_expr(text: Column, chunk_size: int = CHUNK_SIZE) -> Column:
    """F4 ≙ chunk_text (app/main.py:243-250): split on '\\n', regroup every
    ``chunk_size`` lines re-joined with '\\n'. Pure higher-order functions —
    no UDF, no explode/shuffle."""
    lines = F.split(text, "\n", -1)
    n_chunks = F.ceil(F.size(lines) / F.lit(chunk_size)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - F.lit(1))
    return F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(lines, i * F.lit(chunk_size) + F.lit(1), F.lit(chunk_size)),
            "\n",
        ),
    )


def chunks_if_large_expr(text: Column,
                         threshold: int = CHUNK_THRESHOLD,
                         chunk_size: int = CHUNK_SIZE) -> Column:
    """P6 gate (app/main.py:394): chunk only when len(content) > 10000,
    else a single-element array holding the whole content."""
    return F.when(F.length(text) > F.lit(threshold),
                  chunk_text_expr(text, chunk_size)).otherwise(F.array(text))


def url_extension_expr(url: Column) -> Column:
    """F5 ≙ os.path.splitext(...)[1].lower() (app/main.py:224,550,714),
    applied to urls: includes the leading dot."""
    return F.lower(F.regexp_extract(url, r"(\.[^./?#]+)(?:[?#].*)?$", 1))


def filename_stem_expr(name: Column) -> Column:
    """F6 ≙ Path(name).stem (app/main.py:617)."""
    return F.regexp_extract(name, r"([^/]+?)(?:\.[^./]*)?$", 1)


def download_name_expr(name: Column, fmt: Column) -> Column:
    """F7+F8 ≙ f"{base}_converted{ext}" (app/main.py:617-619, 345-347)."""
    ext = F.when(fmt == "markdown", F.lit(".md")).otherwise(F.lit(".txt"))
    return F.concat(filename_stem_expr(name), F.lit("_converted"), ext)


def estimated_minutes_expr(nbytes: Column) -> Column:
    """F9 ≙ max(1, size // 1 MiB) (app/main.py:517,676)."""
    return F.greatest(F.lit(1).cast("long"),
                      F.floor(nbytes / F.lit(1024 * 1024)).cast("long"))


def iso_timestamp_expr(ts: Column) -> Column:
    """F10 ≙ datetime.isoformat() with microseconds (app/main.py:767-776)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")


def processing_seconds_expr(started: Column, completed: Column) -> Column:
    """F11 ≙ (completed-started).total_seconds() (app/main.py:415,776)."""
    return (F.unix_micros(completed) - F.unix_micros(started)) / F.lit(1e6)


def mb_expr(nbytes: Column, digits: int = 2) -> Column:
    """F12 ≙ x/(1024*1024) with rounding (app/main.py:414,768,892-899)."""
    return F.round(nbytes / F.lit(1024 * 1024), digits)


def preview_expr(content: Column, n: int = 500) -> Column:
    """O3 ≙ first-500-chars preview with ellipsis (app/main.py:547)."""
    return F.when(
        F.length(content) > F.lit(n),
        F.concat(F.substring(content, 1, n), F.lit("...")),
    ).otherwise(content)


# ---------------------------------------------------------------------------
# The tokenizer: lowercase, then split on single spaces
# ---------------------------------------------------------------------------

CASE_FROM, CASE_TO = "Σİ", "σi"
_PY_CASE = str.maketrans(CASE_FROM, CASE_TO)


def case_map_expr(text: Column | str) -> Column:
    """``text`` with Σ and İ mapped to DuckDB's lowercase of them. One
    ``replace`` per character, not ``translate``: replace returns its input
    after one byte scan when the character is absent, where translate
    looks up every character, and measured slower on page-sized text."""
    for a, b in zip(CASE_FROM, CASE_TO):
        text = F.replace(text, F.lit(a), F.lit(b))
    return text


def lower_expr(text: Column | str) -> Column:
    """Catalyst twin of DuckDB's ``lower(text)``."""
    return F.lower(case_map_expr(text))


def words(text: Column | str) -> Column:
    """Catalyst twin of :func:`words_sql`: the lowercased words array."""
    return F.split(lower_expr(text), " ", -1)


def words_sql(text: str) -> str:
    """DuckDB spelling of the tokenizer over the SQL expression ``text``."""
    return f"str_split(lower({text}), ' ')"


def words_py(text: str) -> list[str]:
    """Python twin of :func:`words_sql`, for Arrow-batched stages."""
    return text.translate(_PY_CASE).lower().split(" ")
