"""Unit tests for the pure-Python extraction core (SURVEY.md §5.2.3).

Covers the tolerant DOM on pathological HTML, boilerplate classification
ground truth, PDF content-stream decoding, and reference-parity of the
post-format helpers against hand-computed expectations from
/root/reference/app/main.py:243-299 semantics.
"""

from __future__ import annotations

import gc
import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from document_converter_api_spark.extraction.boilerplate import keep_block
from document_converter_api_spark.extraction.core import extract_document
from document_converter_api_spark.extraction.html_dom import parse_html
from document_converter_api_spark.extraction.markdown import html_to_markdown
from document_converter_api_spark.extraction.pdf import pdf_to_text
from document_converter_api_spark.extraction.postformat import (
    chunk_text,
    format_google_docs,
    format_plain_text,
    sanitize_filename,
)
from document_converter_api_spark.extraction.sniff import sniff_content_type
from document_converter_api_spark.functions.pystage import drop_zip_finders
from document_converter_api_spark.operators.extract import extract_arrow_batches
from document_converter_api_spark.operators.sampling import (
    _bucket_bag_batches, _fold_task, bucket_bag,
)
from document_converter_api_spark.operators.text_analysis import (
    _ngram_repetition_batches,
)
from fixtures.genpages import build_minimal_pdf


MAIN = ("This is a long enough paragraph of real main content that should "
        "comfortably clear the density thresholds used by the classifier.")


def _page(body: str) -> str:
    return f"<html><head><title>T</title></head><body>{body}</body></html>"


class TestDomTolerance:
    def test_unclosed_p_tags(self):
        md = html_to_markdown(_page(f"<main><p>{MAIN}<p>{MAIN}</main>"))
        assert md.count(MAIN) == 2
        assert md == f"{MAIN}\n\n{MAIN}"

    def test_unclosed_li(self):
        html = _page(f"<main><ul><li>alpha item one<li>beta item two</ul>"
                     f"<p>{MAIN}</p></main>")
        md = html_to_markdown(html)
        assert "- alpha item one\n- beta item two" in md

    def test_stray_close_tags_ignored(self):
        md = html_to_markdown(_page(f"<main></div><p>{MAIN}</p></span></main>"))
        assert md == MAIN

    def test_entities_decoded(self):
        md = html_to_markdown(_page("<main><p>a &amp; b &lt;c&gt; &#233;tude "
                                    "plus padding words to clear size</p></main>"))
        assert "a & b <c> étude" in md

    def test_mis_nesting(self):
        md = html_to_markdown(_page(
            f"<main><p><strong>bold {MAIN}</p><p>{MAIN}</strong></p></main>"))
        assert MAIN in md


class TestBoilerplate:
    def test_nav_and_footer_stripped(self):
        html = _page(
            '<nav><a href="/a">Home</a> <a href="/b">About</a></nav>'
            f"<main><p>{MAIN}</p></main>"
            '<footer><a href="/c">Legal</a> © corp</footer>')
        md = html_to_markdown(html)
        assert md == MAIN

    def test_deny_class_divs_stripped(self):
        html = _page(
            f'<div class="ads">Buy this thing now limited offer</div>'
            f"<main><p>{MAIN}</p></main>"
            f'<div class="cookie-banner">We use cookies accept them all</div>')
        md = html_to_markdown(html)
        assert md == MAIN

    def test_link_farm_dropped_outside_main(self):
        farm = " ".join(f'<a href="/{i}">link{i}</a>' for i in range(20))
        html = _page(f"<div>{farm}</div><div><p>{MAIN}</p></div>")
        md = html_to_markdown(html)
        assert md == MAIN

    def test_script_style_never_leak(self):
        html = _page("<script>var secret = 1;</script>"
                     "<style>.x{color:red}</style>"
                     f"<main><p>{MAIN}</p></main>")
        md = html_to_markdown(html)
        assert "secret" not in md and "color" not in md

    def test_keep_block_integer_math(self):
        assert keep_block("text", 100, 33, False)       # exactly 1/3 links ok
        assert not keep_block("text", 100, 34, False)   # just over 1/3
        assert keep_block("text", 100, 66, True)        # main tolerates 2/3
        assert not keep_block("text", 100, 67, True)
        assert not keep_block("text", 24, 0, False)     # under min chars
        assert not keep_block("text", 0, 0, True)


class TestMarkdownShape:
    def test_heading_levels(self):
        md = html_to_markdown(_page(
            f"<main><h1>Top</h1><p>{MAIN}</p><h3>Deep</h3><p>{MAIN}</p></main>"))
        assert md.startswith("# Top\n\n")
        assert "\n\n### Deep\n\n" in md

    def test_heading_without_content_dropped(self):
        md = html_to_markdown(_page(
            f"<main><h2>Orphan</h2></main><div><h2>Also orphan</h2></div>"
            f"<main><p>{MAIN}</p></main>"))
        assert "Orphan" not in md

    def test_table_pipe_format(self):
        html = _page("<main><table><tr><th>K</th><th>V</th></tr>"
                     "<tr><td>a|b</td><td>2</td></tr></table>"
                     f"<p>{MAIN}</p></main>")
        md = html_to_markdown(html)
        assert "| K | V |" in md
        assert "| --- | --- |" in md
        assert "| a\\|b | 2 |" in md

    def test_code_fence(self):
        html = _page("<main><pre><code>x = 1\ny = 2</code></pre>"
                     f"<p>{MAIN}</p></main>")
        md = html_to_markdown(html)
        assert "```\nx = 1\ny = 2\n```" in md

    def test_links_and_emphasis(self):
        html = _page(f'<main><p>See <a href="https://x.y/z">the docs</a> and '
                     f"<strong>bold</strong> and <em>ital</em> {MAIN}</p></main>")
        md = html_to_markdown(html)
        assert "[the docs](https://x.y/z)" in md
        assert "**bold**" in md and "*ital*" in md

    def test_ordered_list_numbering(self):
        html = _page(f"<main><ol><li>first thing here</li><li>second thing here"
                     f"</li></ol><p>{MAIN}</p></main>")
        md = html_to_markdown(html)
        assert "1. first thing here\n2. second thing here" in md

    def test_blockquote(self):
        html = _page(f"<main><blockquote><p>{MAIN}</p></blockquote></main>")
        md = html_to_markdown(html)
        assert md == f"> {MAIN}"

    def test_no_trailing_newline(self):
        md = html_to_markdown(_page(f"<main><p>{MAIN}</p></main>"))
        assert not md.endswith("\n")


class TestPdf:
    def test_roundtrip_plain_and_flate(self):
        pages = [["line one alpha", "line two beta"], ["second page gamma"]]
        for mask in ([False, False], [True, True], [True, False]):
            data = build_minimal_pdf(pages, mask)
            text = pdf_to_text(data)
            assert text == "line one alpha\nline two beta\n\fsecond page gamma\n\f"

    def test_escapes(self):
        data = build_minimal_pdf([["paren (x) and \\ slash"]], [False])
        assert pdf_to_text(data) == "paren (x) and \\ slash\n\f"

    def test_not_pdf_raises_into_error(self):
        res = extract_document(b"%PDX-broken", "http://x/a.pdf", "pdf")
        assert res.markdown is None and res.error


class TestSniff:
    def test_magic_bytes_win_over_extension(self):
        assert sniff_content_type(b"%PDF-1.4 ...", "http://x/f.html") == "pdf"
        assert sniff_content_type(b"PK\x03\x04xxxx", "http://x/f.html") == "docx"

    def test_html_markers(self):
        assert sniff_content_type(b"  <!DOCTYPE html><html>", "") == "html"
        assert sniff_content_type(b"<div>hi</div>", "") == "html"

    def test_extension_fallback(self):
        assert sniff_content_type(b"\x00\x01\x02", "http://x/f.pdf") == "pdf"
        assert sniff_content_type(b"\xff\xd8\xff", "http://x/f.jpg") == "unknown"


class TestPostformatParity:
    """Byte-exact parity with /root/reference/app/main.py helpers."""

    def test_plain_text_regex_chain(self):
        md = ("# Head\n\n**bold** and *ital* and [txt](http://u) and `code`\n"
              "## Sub\nplain")
        # reference chain: headers, bold, italic, links, code — in order
        assert format_plain_text(md) == (
            "Head\n\nbold and ital and txt and code\nSub\nplain")

    def test_plain_text_bold_before_italic_order(self):
        # '**x**' must be consumed by the bold pass, not twice by italic
        assert format_plain_text("**x**") == "x"
        assert format_plain_text("*y*") == "y"
        assert format_plain_text("***z***") == "z"

    def test_gdocs_literal_star_eats_bullets(self):
        # the reference's '*' replace also hits list markers — faithfully kept
        # '# ' replace is position-independent: mid-string '# d' loses it too
        assert format_google_docs("- a\n* b\n**c** # d") == "- a\n b\nc d"
        # '# ' pass runs FIRST, so '### Sub' → '##Sub' (reference-faithful)
        assert format_google_docs("# Title\n### Sub") == "Title\n##Sub"
        # '#### ' contains '# ' → partially eaten, reference-faithful:
        assert format_google_docs("#### deep") == "###deep"

    def test_chunk_text_exact_grouping(self):
        text = "\n".join(str(i) for i in range(2500))
        chunks = chunk_text(text, 1000)
        assert len(chunks) == 3
        assert chunks[0].splitlines()[0] == "0"
        assert chunks[0].splitlines()[-1] == "999"
        assert chunks[2].splitlines() == [str(i) for i in range(2000, 2500)]
        assert "\n".join(chunks) == text

    def test_chunk_text_empty(self):
        assert chunk_text("", 1000) == [""]

    def test_sanitize_filename(self):
        assert sanitize_filename("My Doc (final).pdf") == "My-Doc-final"
        assert sanitize_filename("--a  b--.docx") == "a-b"
        assert sanitize_filename("résumé.pdf") == "résumé"  # \w is unicode in py


class TestDispatch:
    def test_unknown_type_is_error_not_exception(self):
        res = extract_document(b"\x00\x01", "http://x/f.bin")
        assert res.markdown is None
        assert res.error.startswith("unsupported_content_type")

    def test_truncated_html_still_extracts(self):
        res = extract_document(f"<html><body><main><p>{MAIN}".encode(), "u.html")
        assert res.error is None
        assert res.markdown == MAIN


class TestFastTokenizerEquivalence:
    """The specialized one-shot tokenizer must build the exact same DOM as
    the stdlib feed/close drive (its executable spec) on representative and
    pathological inputs; corpus-wide equality was verified at build time."""

    CASES = [
        "",
        "<",
        "<p>plain</p>",
        "<p>a &amp; b &#65; &unknown; &#x41;</p>",
        "<script>if (a<b && c>d) {}</script><p>after</p>",
        "<style>p {color: red}</style>",
        "<script>never closed",
        "<p unterminated",
        "<a href='x' data-k>t</a><br/><img src=y alt=\"z\">",
        "<!-- comment --><!doctype html><?pi data?><![CDATA[raw]]>",
        "</><//><!bogus><p></p></notopen>",
        "<p><b>mis<i>nest</b>ed</i></p>",
        "<ul><li>a<li>b</ul><table><tr><td>c<td>d</table>",
        "text &amp tail <p>x</p> trailing &",
        "<a \"quoted\"<b>odd</b>",
        "<p>é entity: &eacute; num: &#233;</p>",
        "<P CLASS='A'>upper</P>",
        "<div/>self-closing-nonvoid</div>",
    ]

    @staticmethod
    def _tree(n, out):
        if n.tag is None:
            out.append(("#t", n.text))
            return
        out.append((n.tag, sorted((n.attrs or {}).items())))
        for c in n.children:
            TestFastTokenizerEquivalence._tree(c, out)
        out.append(("end", n.tag))

    def test_cases_equal_stdlib(self):
        from document_converter_api_spark.extraction.html_dom import (
            parse_html, parse_html_stdlib)
        for html in self.CASES:
            a, b = [], []
            self._tree(parse_html(html), a)
            self._tree(parse_html_stdlib(html), b)
            assert a == b, f"tokenizer divergence on {html!r}"

    def test_corpus_sample_equal_stdlib(self, smoke_paths):
        import pyarrow.parquet as pq
        from document_converter_api_spark.extraction.html_dom import (
            parse_html, parse_html_stdlib)
        pages, _ = smoke_paths
        t = pq.read_table(pages, columns=["html"])
        for payload in t.column("html").to_pylist()[:200]:
            try:
                s = payload.decode("utf-8")
            except UnicodeDecodeError:
                s = payload.decode("latin-1")
            a, b = [], []
            self._tree(parse_html(s), a)
            self._tree(parse_html_stdlib(s), b)
            assert a == b


def test_comment_interleaved_text_is_linear_not_quadratic():
    """Pages that interleave tiny text chunks with comments used to trigger
    O(n²) text-node merging (`node.text += chunk` — attribute stores defeat
    CPython's in-place concat optimization; 7.75s for the 4MB case). The
    buffered builder must stay linear: generous wall bound, plus output
    correctness."""
    import time
    from document_converter_api_spark.extraction.core import extract_document
    n = 200_000
    doc = ("<html><body><p>" + "xy<!--c-->" * n + "</p></body></html>").encode()
    t0 = time.time()
    res = extract_document(doc, "u")
    assert time.time() - t0 < 5.0, "comment-interleaved merge went quadratic"
    assert res.error is None and res.markdown == "xy" * n


def test_dom_is_freed_without_the_cycle_collector():
    """A DOM holds no back-references, so dropping it frees every node by
    reference counting alone and leaves nothing for the cyclic GC."""
    page = _page("<nav><a href='/x'>x</a></nav><main><h1>Head</h1>"
                 f"<p>{MAIN} <b>bold</b></p><ul><li>a<li>b</ul>"
                 "<table><tr><td>1</td></tr></table></main>"
                 "<script>var x = 1;</script>")
    html_to_markdown(page)  # warm lazy module state outside the window
    gc.collect()
    gc.disable()
    try:
        root = parse_html(page)
        del root
        html_to_markdown(page)
        assert gc.collect() == 0
    finally:
        gc.enable()


def test_depth_cap_extracts_deep_pages_without_leaking_suppressed():
    """Elements beyond MAX_DEPTH flatten instead of nesting: a 50k-deep
    auto-generated page extracts its content (previously a captured
    RecursionError lost the document), and script/style suppression holds
    even when the suppressed tag opens beyond the cap."""
    from document_converter_api_spark.extraction.core import extract_document
    deep = ("<html><body>" + "<div>" * 50_000
            + "<p>hello world this is content</p>"
            + "</div>" * 50_000 + "</body></html>").encode()
    r = extract_document(deep, "u")
    assert r.error is None and r.markdown == "hello world this is content"

    beyond = ("<html><body>" + "<div>" * 300
              + "<script>var leak=1;</script>"
              + "<p>keep this long enough paragraph of content words</p>"
              + "</div>" * 300 + "</body></html>").encode()
    r2 = extract_document(beyond, "u")
    assert r2.error is None
    assert "leak" not in r2.markdown
    assert "keep this long enough" in r2.markdown


def test_decompression_bombs_are_bounded():
    """A 100 MB-inflating DOCX member or PDF Flate stream must not be
    decompressed unbounded into worker memory: DOCX errors (captured as an
    error row), PDF skips the bomb stream like a corrupt one."""
    import io
    import zipfile
    import zlib

    from document_converter_api_spark.extraction.core import extract_document

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("word/document.xml", b"\x00" * (100 * 1024 * 1024))
    r = extract_document(buf.getvalue(), "u.docx", "docx")
    assert r.error is not None and "cap" in r.error

    body = zlib.compress(b"BT (x) Tj ET " * 8_000_000)
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + body
           + b"\nendstream\nendobj\n%%EOF")
    r2 = extract_document(pdf, "u.pdf", "pdf")
    assert r2.error is None and (r2.markdown or "") == ""


class TestReviewHardening:
    """Regression pins for review findings on the build-time-suppression and
    bounded-decompression work."""

    def test_truncated_cdata_matches_stdlib(self):
        from document_converter_api_spark.extraction.html_dom import (
            parse_html, parse_html_stdlib)

        def tree(n, out):
            if n.tag is None:
                out.append(("#t", n.text))
                return
            out.append((n.tag, sorted((n.attrs or {}).items())))
            for c in n.children:
                tree(c, out)
            out.append(("/", n.tag))

        for case in ("<html><body><script>x</script",
                     "<style>s{}</style ",
                     "<script>a</scrip",
                     "<script>a</script >b"):
            a, b = [], []
            tree(parse_html(case), a)
            tree(parse_html_stdlib(case), b)
            assert a == b, case

    def test_self_closing_denied_is_suppressed(self):
        from document_converter_api_spark.extraction.markdown import (
            html_to_markdown)
        md = html_to_markdown(
            '<html><body><main><p>real content paragraph long enough to '
            'keep</p><p><img class="advert" src="ad.png"/></p>'
            "</main></body></html>")
        assert "ad.png" not in md

    def test_deep_script_does_not_leak_in_full_tree_mode(self):
        from document_converter_api_spark.extraction.boilerplate import prune
        from document_converter_api_spark.extraction.html_dom import parse_html
        root = parse_html("<html><body>" + "<div>" * 300
                          + "<script>var secret=1;</script><p>hi</p>"
                          + "</div>" * 300 + "</body></html>")
        prune(root)
        assert "secret" not in root.iter_text()

    def test_truncated_flate_stream_is_skipped(self):
        import zlib
        from document_converter_api_spark.extraction.core import (
            extract_document)
        good = zlib.compress(b"BT (ok) Tj ET")
        trunc = good[:len(good) // 2]
        pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(trunc)).encode()
               + b" /Filter /FlateDecode >>\nstream\n" + trunc
               + b"\nendstream\nendobj\n%%EOF")
        r = extract_document(pdf, "u.pdf", "pdf")
        assert r.error is None and (r.markdown or "") == ""

    def test_rels_bomb_is_bounded_and_text_still_extracts(self):
        import io
        import zipfile
        from document_converter_api_spark.extraction.core import (
            extract_document)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(
                "word/document.xml",
                '<?xml version="1.0"?><w:document xmlns:w="http://schemas.'
                'openxmlformats.org/wordprocessingml/2006/main"><w:body>'
                "<w:p><w:r><w:t>hello docx</w:t></w:r></w:p></w:body>"
                "</w:document>")
            zf.writestr("word/_rels/document.xml.rels",
                        b"\x00" * (100 * 1024 * 1024))
        r = extract_document(buf.getvalue(), "u.docx", "docx")
        assert r.error is None and "hello docx" in r.markdown


def test_denied_container_beyond_depth_cap_stays_suppressed():
    """Intentional divergence from build-then-prune (documented in
    html_to_markdown): a class-denied container nested beyond MAX_DEPTH
    suppresses its children — flattening would leak boilerplate content."""
    from document_converter_api_spark.extraction.markdown import (
        html_to_markdown)
    md = html_to_markdown(
        "<html><body>" + "<div>" * 300
        + '<div class="related"><p>recommended boilerplate links here</p>'
        + "</div><p>keep this long enough paragraph of real content</p>"
        + "</div>" * 300 + "</body></html>")
    assert "recommended boilerplate" not in md
    assert "keep this long enough" in md


class TestCharsetDecoding:
    """decode_payload's WHATWG-order charset tier: BOM > declared in
    the 1024-byte pre-scan window > utf-8 > latin-1 (never fails)."""

    def test_utf8_bom_stripped(self):
        from document_converter_api_spark.extraction.core import decode_payload
        assert decode_payload(b"\xef\xbb\xbf<p>caf\xc3\xa9</p>") == "<p>café</p>"

    def test_utf16le_bom(self):
        from document_converter_api_spark.extraction.core import decode_payload
        raw = b"\xff\xfe" + "<p>qualität</p>".encode("utf-16-le")
        assert decode_payload(raw) == "<p>qualität</p>"

    def test_utf16be_bom(self):
        from document_converter_api_spark.extraction.core import decode_payload
        raw = b"\xfe\xff" + "<p>rápido</p>".encode("utf-16-be")
        assert decode_payload(raw) == "<p>rápido</p>"

    def test_declared_cp1252(self):
        from document_converter_api_spark.extraction.core import decode_payload
        raw = ('<meta charset="windows-1252"><p>über — €</p>').encode("cp1252")
        assert decode_payload(raw) == '<meta charset="windows-1252"><p>über — €</p>'

    def test_lying_declaration_falls_through(self):
        from document_converter_api_spark.extraction.core import decode_payload
        # declares ascii but carries utf-8 bytes: strict ascii fails,
        # chain lands on utf-8
        raw = '<meta charset="ascii"><p>café</p>'.encode("utf-8")
        assert decode_payload(raw) == '<meta charset="ascii"><p>café</p>'

    def test_unknown_declaration_ignored(self):
        from document_converter_api_spark.extraction.core import decode_payload
        raw = '<meta charset="klingon-8"><p>ok</p>'.encode("utf-8")
        assert decode_payload(raw) == '<meta charset="klingon-8"><p>ok</p>'

    def test_declaration_outside_prescan_window_ignored(self):
        from document_converter_api_spark.extraction.core import decode_payload
        # cp1252-only byte 0x96 (en dash) with the declaration past
        # 1024 bytes: utf-8 fails, latin-1 fallback maps 0x96 to U+0096
        raw = (b"<p>" + b"x" * 1100
               + b'charset="windows-1252"</p>\x96')
        out = decode_payload(raw)
        assert out.endswith("\x96")

    def test_charset_token_outside_meta_is_ignored(self):
        """A 'charset=' inside a url/script must NOT be honored — with
        the never-failing latin-1 fallback a context-free match would
        silently mojibake a valid UTF-8 page (round-3 review)."""
        from document_converter_api_spark.extraction.core import decode_payload
        raw = ('<a href="/x?charset=iso-8859-1">l</a><p>café</p>'
               ).encode("utf-8")
        assert decode_payload(raw) == \
            '<a href="/x?charset=iso-8859-1">l</a><p>café</p>'

    def test_bom_beats_declaration(self):
        from document_converter_api_spark.extraction.core import decode_payload
        body = '<meta charset="windows-1252"><p>naïve</p>'
        raw = b"\xff\xfe" + body.encode("utf-16-le")
        assert decode_payload(raw) == body

    def test_sniff_bom_markup(self):
        from document_converter_api_spark.extraction.sniff import (
            sniff_content_type,
        )
        u16 = b"\xff\xfe" + "<!DOCTYPE html><html>".encode("utf-16-le")
        assert sniff_content_type(u16, "") == "html"
        u16be = b"\xfe\xff" + "<html>".encode("utf-16-be")
        assert sniff_content_type(u16be, "") == "html"
        assert sniff_content_type(b"\xef\xbb\xbf<html>", "") == "html"

    def test_legacy_fixture_pages_extract_with_accents(self):
        """End-to-end: every committed .htm fixture page decodes and
        its markdown carries the restored non-ASCII accents."""
        import pyarrow.parquet as pq
        from document_converter_api_spark.extraction.core import (
            extract_document,
        )
        t = pq.read_table("fixtures/data/pages_smoke.parquet")
        rows = [(u, h) for u, h in
                zip(t["url"].to_pylist(), t["html"].to_pylist())
                if u.endswith(".htm")]
        assert len(rows) >= 5
        accented = 0
        for url, html in rows:
            res = extract_document(html, url)
            assert res.error is None, (url, res.error)
            assert res.markdown
            if any(ch in res.markdown for ch in "üáéíö"):
                accented += 1
        assert accented == len(rows)


def _zip_finder_paths() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


class TestZipFinderPruning:
    """The extraction, n-gram repetition and bag stages, and the bag
    folds, drop the cached zip-archive finders at the head of every task,
    so the worker's per-task import-cache invalidation has no archive
    directory to re-read; imports through the archive keep working
    because the import system rebuilds the finder on demand."""

    @pytest.fixture
    def zip_on_path(self, tmp_path):
        path = str(tmp_path / "zfp.zip")
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("zfp_a.py", "VALUE = 'a'\n")
            zf.writestr("zfp_b.py", "VALUE = 'b'\n")
            zf.writestr("zfp_pkg/__init__.py", "")
            zf.writestr("zfp_pkg/mod.py", "VALUE = 'pkg'\n")
        sys.path.insert(0, path)
        try:
            assert importlib.import_module("zfp_a").VALUE == "a"
            assert path in _zip_finder_paths()
            yield path
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            for name in ("zfp_a", "zfp_b", "zfp_pkg", "zfp_pkg.mod"):
                sys.modules.pop(name, None)

    def test_drop_keeps_imports_through_the_archive_working(self,
                                                            zip_on_path):
        path_before = list(sys.path)
        drop_zip_finders()
        assert _zip_finder_paths() == []
        assert sys.path == path_before
        assert "zfp_a" in sys.modules
        assert importlib.import_module("zfp_b").VALUE == "b"
        assert importlib.import_module("zfp_pkg.mod").VALUE == "pkg"

    @pytest.mark.parametrize("stage", ["extract_arrow_batches",
                                       "ngram_repetition_batches",
                                       "bucket_bag_batches", "fold_task"])
    def test_each_task_starts_by_dropping_them(self, zip_on_path, stage):
        if stage == "extract_arrow_batches":
            batch = pa.RecordBatch.from_pydict(
                {"url": ["u.html"],
                 "html": [f"<html><body><main><p>{MAIN}</p></main>"
                          "</body></html>".encode()],
                 "lang": ["en"], "content_type": ["html"],
                 "partition_id": pa.array([0], pa.int32())})
            out = list(extract_arrow_batches(iter([batch])))
            assert out[0].column("markdown").to_pylist() == [MAIN]
        elif stage == "ngram_repetition_batches":
            import pandas as pd
            pdf = pd.DataFrame({"doc_id": [7], "text": ["a b a b a b"]})
            out = list(_ngram_repetition_batches(iter([pdf])))
            assert out[0]["doc_id"].tolist() == [7]
            assert out[0]["top2_frac"].tolist() == [0.818182]
        elif stage == "bucket_bag_batches":
            import pandas as pd
            pdf = pd.DataFrame({"doc_id": [7], "source": ["src0"],
                                "text": ["a b a"]})
            out = list(_bucket_bag_batches(iter([pdf])))
            assert list(out[0].columns) == ["doc_id", "source", "bag"]
            assert list(out[0]["bag"][0]) == bucket_bag("a b a")
            assert sum(out[0]["bag"][0]) == 3
        else:
            def add(acc, row):
                acc[0] += row
            assert list(_fold_task(1, add, iter([2, 3]))) == [[5]]
        assert _zip_finder_paths() == []
