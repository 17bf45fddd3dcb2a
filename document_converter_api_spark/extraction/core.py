"""Extraction core: per-document dispatch (U1) over HTML/PDF/DOCX payloads.

This is the single-process reference extractor (SURVEY.md §5.2.1): the golden
fixtures are produced by calling :func:`extract_document` directly, and the
Spark ``mapInArrow`` stage (operators/extract.py) wraps the *same function*,
so byte-identity per url between the distributed pipeline and the goldens is
the Arrow/transport-fidelity property under test — not a reimplementation
diff.

Mirrors the reference conversion entry (/root/reference/app/main.py:383-391):
convert → ``.text_content``; failures are captured, never raised
(app/main.py:438-441 — a failed doc must not kill the job).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass

from .deadline import DocTimeBudgetError, arm, disarm
from .docx import docx_to_markdown
from .markdown import html_to_markdown
from .pdf import PdfEncryptedError, PdfNeedsOcrError, pdf_to_text
from .sniff import sniff_content_type


@dataclass
class ExtractResult:
    markdown: str | None
    error: str | None


# Error tags for documents the extractor knowingly leaves without text:
# image-only PDFs this sandbox cannot OCR (the reference tesseracts them),
# files whose password cannot be derived, and documents that blew the
# per-doc wall-clock budget. The live metrics (operators/metrics.py) and
# the lineage aggregate (plans/pipeline.partition_metrics) count each class
# separately; a class added here is counted in both.
NEEDS_OCR, ENCRYPTED, TIMEOUT = "needs_ocr", "encrypted", "timeout"
COUNTED_ERRORS = (NEEDS_OCR, ENCRYPTED, TIMEOUT)


# HTML5 §8.2.2.2 pre-scan: the charset declaration must appear in the
# first 1024 bytes to be honored, and only INSIDE a <meta> tag — a bare
# context-free 'charset=' match would honor charset tokens in urls,
# scripts, or comments, and because the latin-1 fallback never fails, a
# false match silently mojibakes a valid UTF-8 page. Closed alias map —
# unknown names fall through to the utf-8 → latin-1 chain rather than
# raising LookupError.
_CHARSET_RE = _re.compile(
    rb'<meta[^>]{0,200}?charset=["\']?([A-Za-z0-9_\-]+)', _re.I)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-1": "latin-1", "latin-1": "latin-1", "latin1": "latin-1",
    "ascii": "ascii", "us-ascii": "ascii",
}


def decode_payload(payload: bytes) -> str:
    """Bytes → text for HTML payloads, Common-Crawl reality order:

    1. byte-order mark (authoritative per WHATWG encoding sniffing) —
       UTF-8 / UTF-16LE / UTF-16BE, decoded leniently;
    2. ``charset=`` declared in the first 1024 bytes (HTML5 pre-scan
       window), via a closed alias map so a lying or exotic declaration
       can't raise;
    3. strict utf-8, then latin-1 (maps every byte — never fails).
    """
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload[3:].decode("utf-8", "replace")
    if payload.startswith(b"\xff\xfe"):
        return payload[2:].decode("utf-16-le", "replace")
    if payload.startswith(b"\xfe\xff"):
        return payload[2:].decode("utf-16-be", "replace")
    m = _CHARSET_RE.search(payload[:1024])
    if m:
        codec = _CHARSET_ALIASES.get(m.group(1).decode("ascii").lower())
        if codec:
            try:
                return payload.decode(codec)
            except UnicodeDecodeError:
                pass  # declaration lied — fall through to the chain
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("latin-1")


def extract_document(payload: bytes, url: str = "",
                     content_type: str | None = None,
                     time_budget_s: float | None = None) -> ExtractResult:
    """U1 dispatch: route by sniffed content type, extract, capture errors.

    ``time_budget_s`` arms a cooperative per-document wall-clock budget
    (extraction/deadline.py) — the reference declared but never enforced
    CONVERSION_TIMEOUT=300 (/root/reference/app/main.py:208, dead
    config); the Spark stage passes a real budget so one pathological
    page can't pin an executor core. A blown budget is a per-doc
    ``error='timeout'`` row, never a task failure."""
    armed = arm(time_budget_s)
    try:
        ctype = content_type or sniff_content_type(payload, url)
        if ctype == "html":
            return ExtractResult(html_to_markdown(decode_payload(payload)), None)
        if ctype == "pdf":
            return ExtractResult(pdf_to_text(payload), None)
        if ctype == "docx":
            return ExtractResult(docx_to_markdown(payload), None)
        return ExtractResult(None, f"unsupported_content_type:{ctype}")
    except DocTimeBudgetError:
        # wall-clock budget blown mid-parse (tagged like needs_ocr/
        # encrypted: stable code, filterable, counted in metrics)
        return ExtractResult(None, TIMEOUT)
    except PdfNeedsOcrError:
        # detected-and-tagged reject (stable code, filterable downstream) —
        # the reference OCRs these via tesseract, unavailable in-sandbox
        return ExtractResult(None, NEEDS_OCR)
    except PdfEncryptedError:
        # the reference decrypts via qpdf; we tag instead of garbling
        return ExtractResult(None, ENCRYPTED)
    except Exception as exc:  # noqa: BLE001 — doc failure must not kill the job
        return ExtractResult(None, f"{type(exc).__name__}: {exc}"[:500])
    finally:
        if armed:
            disarm()
