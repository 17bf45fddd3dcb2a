"""Error-tolerant DOM built on stdlib ``html.parser``.

The sandbox has no lxml/bs4 (SURVEY.md §7.1), so the HTML→markdown path
(SURVEY.md §2.9 U4 — the reference delegates this to MarkItDown, see
/root/reference/app/main.py:383-391) is fed by this hand-built tolerant DOM:

* auto-closes ``p``/``li``/``tr``/``td`` etc. on sibling open (browsers' implied
  end tags),
* ignores stray close tags and mis-nesting (pops to the nearest matching open
  element, never past a structural boundary),
* treats void elements (``br``/``img``/``hr`` …) as self-closing,
* lets ``html.parser`` handle entity/charref decoding (``convert_charrefs``)
  and ``<script>``/``<style>`` CDATA content.

Pure Python, no Spark imports — the same code runs single-process to produce
golden fixtures and inside the Arrow-batched extraction UDF.
"""

from __future__ import annotations

import html.parser as _hp
from html import unescape
from html.parser import HTMLParser

from .deadline import DocTimeBudgetError
from .deadline import check as _check_deadline

# The one-shot fast path reuses the RUNNING stdlib's own compiled regexes
# (undocumented module attributes). They have been stable across CPython 3.x
# for a decade, but they are private: if a future build renames or removes
# any of them, the module must still import and parse_html must route to the
# stdlib drive — so the lookups are guarded rather than hard module-level
# attribute accesses (a bare AttributeError here would take down the whole
# import and with it the advertised fallback).
try:
    _starttagopen = _hp.starttagopen
    _locatestarttagend = _hp.locatestarttagend_tolerant
    _tagfind = _hp.tagfind_tolerant
    _attrfind = _hp.attrfind_tolerant
    _endtagfind = _hp.endtagfind
    _FAST_PATH_OK = True
except AttributeError:  # pragma: no cover — depends on the CPython build
    _starttagopen = _locatestarttagend = None
    _tagfind = _attrfind = _endtagfind = None
    _FAST_PATH_OK = False
_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")

_CDATA_CLOSE_RES: dict = {}


def _cdata_close_re(elem: str):
    """The EXACT compiled regex the running stdlib's set_cdata_mode would
    install for ``elem`` — obtained by asking a throwaway HTMLParser, not
    by re-typing the pattern, so the fast path's close-tag matching is a
    true twin of the stdlib drive on ANY CPython patch level (the pattern
    gained a trailing '\\s*>' in hardened releases; hardcoding either form
    would diverge on the other)."""
    pat = _CDATA_CLOSE_RES.get(elem)
    if pat is None:
        probe = HTMLParser()
        probe.set_cdata_mode(elem)
        pat = _CDATA_CLOSE_RES[elem] = probe.interesting
    return pat

# Elements that never have content (HTML5 void elements).
VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Opening <key> implies closing any open element in the mapped set first
# (subset of the HTML5 implied-end-tag rules sufficient for web text).
_IMPLIED_END: dict[str, frozenset[str]] = {
    "p": frozenset({"p"}),
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "thead": frozenset({"tr", "td", "th"}),
    "tbody": frozenset({"thead", "tr", "td", "th"}),
    "tfoot": frozenset({"tbody", "tr", "td", "th"}),
    "option": frozenset({"option"}),
    "h1": frozenset({"p"}),
    "h2": frozenset({"p"}),
    "h3": frozenset({"p"}),
    "h4": frozenset({"p"}),
    "h5": frozenset({"p"}),
    "h6": frozenset({"p"}),
    "ul": frozenset({"p"}),
    "ol": frozenset({"p"}),
    "table": frozenset({"p"}),
    "blockquote": frozenset({"p"}),
    "pre": frozenset({"p"}),
    "div": frozenset({"p"}),
    "section": frozenset({"p"}),
    "article": frozenset({"p"}),
    "header": frozenset({"p"}),
    "footer": frozenset({"p"}),
    "nav": frozenset({"p"}),
    "aside": frozenset({"p"}),
    "main": frozenset({"p"}),
}

# Elements a stray </x> will never pop past (structural boundaries).
_CLOSE_BARRIERS = frozenset({"body", "html", "table", "ul", "ol"})

# Maximum element nesting depth (browser-style flattening; Chromium caps
# around 512). Elements opening beyond this attach as siblings at the cap
# instead of nesting — bounds both tree depth and the serializer's
# recursion (~2 frames per level) far below Python's limit, so a 50k-deep
# auto-generated page extracts its text instead of dying with a captured
# RecursionError and contributing nothing.
MAX_DEPTH = 256


_EMPTY_ATTRS: dict = {}  # shared read-only default — attrs are never mutated


class Node:
    """DOM node: element (``tag`` set) or text (``tag is None``)."""

    __slots__ = ("tag", "attrs", "children", "text", "sup")

    def __init__(self, tag: str | None, attrs: dict[str, str] | None = None,
                 text: str = "") -> None:
        self.tag = tag
        self.attrs = attrs if attrs is not None else _EMPTY_ATTRS
        self.children: list[Node] = []
        self.text = text
        self.sup = False  # builder-only: inside a suppressed subtree

    @property
    def is_text(self) -> bool:
        return self.tag is None

    def attr(self, name: str) -> str:
        # `or ""` also maps valueless attributes (parser yields None) — lets
        # the builder store dict(attrs) without a per-tag normalizing copy.
        return self.attrs.get(name) or ""

    def iter_text(self) -> str:
        """All descendant text, unnormalized."""
        if self.is_text:
            return self.text
        parts: list[str] = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.tag is None:
                parts.append(n.text)
            else:
                stack.extend(reversed(n.children))
        return "".join(parts)

    def find_first(self, tag: str) -> "Node | None":
        """Pre-order first match with early exit (find_all without building
        the full result for single-element lookups like <body>)."""
        stack = [self]
        while stack:
            n = stack.pop()
            if n.tag == tag:
                return n
            stack.extend(reversed(n.children))
        return None

    def find_all(self, tag: str) -> list["Node"]:
        out: list[Node] = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.tag == tag:
                out.append(n)
            stack.extend(reversed(n.children))
        return out

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        if self.is_text:
            return f"Text({self.text[:30]!r})"
        return f"<{self.tag} children={len(self.children)}>"


class _DomBuilder(HTMLParser):
    """``suppress_tags``: subtrees rooted at these tags are dropped AT BUILD
    TIME — stack behavior (implied ends, close matching) is identical, but
    their nodes are never attached and their text is never materialized.
    Byte-equivalent to building the full tree and pruning those tags
    afterwards; used by the extraction path (boilerplate PRUNE_TAGS), while
    ``parse_html`` keeps the full-tree contract."""

    def __init__(self, suppress_tags: frozenset[str] | None = None,
                 deny_attrs=None) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack: list[Node] = [self.root]
        self._suppress_tags = suppress_tags or frozenset()
        # optional (tag, attrs_dict) -> bool predicate extending suppression
        # to attribute-based boilerplate (class/id deny-list) at build time
        self._deny_attrs = deny_attrs
        # Text accumulates in a list and text nodes hold part-LISTS until
        # finalize: per-chunk `node.text += data` is O(total²) on pages that
        # interleave text with comments/ignored tags (attribute stores defeat
        # CPython's in-place str-concat optimization — measured 7.75s for a
        # 4MB such page, quadratic).
        self._tbuf: list[str] = []
        self._listy: list[Node] = []

    def _flush_text(self) -> None:
        buf = self._tbuf
        if not buf:
            return
        children = self.stack[-1].children
        if children and children[-1].tag is None:
            last = children[-1]
            if isinstance(last.text, list):
                last.text.extend(buf)
            else:
                last.text = [last.text, *buf]
                self._listy.append(last)
        else:
            node = Node(None)
            node.text = list(buf)  # type: ignore[assignment]
            children.append(node)
            self._listy.append(node)
        buf.clear()

    def _finalize_text(self) -> None:
        self._flush_text()
        for node in self._listy:
            if isinstance(node.text, list):
                node.text = "".join(node.text)
        self._listy.clear()

    # -- helpers -------------------------------------------------------
    def _top(self) -> Node:
        return self.stack[-1]

    def _imply_ends(self, tag: str) -> None:
        implied = _IMPLIED_END.get(tag)
        if not implied:
            return
        while len(self.stack) > 1 and self.stack[-1].tag in implied:
            self.stack.pop()

    # -- HTMLParser callbacks -------------------------------------------
    # html.parser lowercases tag and attribute names before every callback
    # (parser.py:313,326,398,407 in CPython 3.11), so no re-lowercasing
    # here; valueless attrs stay None and Node.attr() maps them to "".

    def updatepos(self, i: int, j: int) -> int:
        # line/column bookkeeping feeds only getpos(), which we never call —
        # skipping it saves one pass over every inter-token gap.
        return j

    def handle_starttag(self, tag: str, attrs) -> None:
        _check_deadline()  # budget coverage for the stdlib-drive path too
        self._flush_text()
        implied = _IMPLIED_END.get(tag)
        if implied:
            stack = self.stack
            while len(stack) > 1 and stack[-1].tag in implied:
                stack.pop()
        node = Node(tag, dict(attrs) if attrs else None)
        top = self.stack[-1]
        if top.sup or tag in self._suppress_tags or (
                self._deny_attrs is not None and attrs
                and self._deny_attrs(tag, node.attrs)):
            # suppressed subtree: keep stack discipline, never attach
            node.sup = True
        else:
            top.children.append(node)
        # Suppressed nodes always push (their subtree is detached, so the
        # serializer never recurses into it; the sup flag must stay on the
        # stack to keep dropping text). Cdata elements (script/style) also
        # always push — cdata mode engages regardless of depth, and without
        # the push their body text would reparent OUTSIDE the element in
        # full-tree mode (leaking script source past a later prune). Other
        # attached nodes stop nesting at cap.
        if tag not in VOID_ELEMENTS and (
                node.sup or tag in self.CDATA_CONTENT_ELEMENTS
                or len(self.stack) < MAX_DEPTH):
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._flush_text()
        self._imply_ends(tag)
        top = self.stack[-1]
        attrs_dict = dict(attrs) if attrs else None
        if top.sup or tag in self._suppress_tags or (
                self._deny_attrs is not None and attrs_dict
                and self._deny_attrs(tag, attrs_dict)):
            return
        top.children.append(Node(tag, attrs_dict))

    def handle_endtag(self, tag: str) -> None:
        self._flush_text()
        if tag in VOID_ELEMENTS:
            return
        # Find nearest matching open element without crossing a barrier.
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag
            if t == tag:
                del self.stack[i:]
                return
            if t in _CLOSE_BARRIERS and tag not in _CLOSE_BARRIERS:
                return  # stray close tag inside a structure: ignore
        # No match anywhere: stray close tag, ignore.

    def handle_data(self, data: str) -> None:
        if not data:
            return
        if self.stack[-1].sup:
            return  # text inside a suppressed subtree is never materialized
        # Buffered: adjacent chunks (around comments/ignored closes) merge
        # into one text node at the next flush, O(1) amortized per chunk.
        self._tbuf.append(data)

    # -- specialized single-feed tokenizer -----------------------------
    # Semantics-preserving specialization of HTMLParser.goahead /
    # parse_starttag (CPython 3.11 html/parser.py:133,300) for our usage:
    # the whole document arrives in ONE call and convert_charrefs is always
    # True, so the incremental-feed machinery (updatepos line counting, the
    # trailing-& buffer guard, check_for_whole_start_tag's buffer-boundary
    # returns, __starttag_text bookkeeping) is dead weight — ~35% of parse
    # time under profile. Branch order, EOF recovery, cdata (script/style)
    # handling, and every callback payload match the stdlib path byte for
    # byte; tests/test_extraction_core.py pins equality on the corpus and
    # the fuzz suite compares both paths on pathological inputs.

    def parse(self, data: str) -> None:
        """One-shot tokenize with end-of-input semantics (== feed+close)."""
        self.rawdata = data
        rawdata = data
        i, n = 0, len(data)
        handle_data = self.handle_data
        check_deadline = _check_deadline
        while i < n:
            check_deadline()  # per-token; strided clock read inside
            if not self.cdata_elem:
                j = rawdata.find("<", i)
                if j < 0:
                    j = n
                if i < j and not self.stack[-1].sup:
                    handle_data(unescape(rawdata[i:j]))
            else:
                # cdata (<script>/<style>): stdlib scans with the
                # case-insensitive r'</\s*elem' regex over the whole body;
                # '</' almost never occurs inside, so hop between literal
                # '</' hits with str.find (C speed) and apply the SAME
                # anchored regex only there — identical match semantics
                # (including unicode \s) at a fraction of the scan cost.
                close_re = _cdata_close_re(self.cdata_elem)
                j = i
                while True:
                    j = rawdata.find("</", j)
                    if j < 0 or close_re.match(rawdata, j):
                        break
                    j += 2
                if j < 0:
                    # unterminated <script>/<style>: stdlib drops the tail
                    i = n
                    break
                if i < j:
                    handle_data(rawdata[i:j])
            i = j
            if i == n:
                break
            startswith = rawdata.startswith
            if rawdata[i + 1:i + 2] in _ASCII_ALPHA:  # == starttagopen.match
                k = self._parse_starttag_whole(i)
            elif startswith("</", i):
                k = self._parse_endtag_whole(i)
            elif startswith("<!--", i):
                k = self.parse_comment(i)
            elif startswith("<?", i):
                k = self.parse_pi(i)
            elif startswith("<!", i):
                k = self.parse_html_declaration(i)
            elif i + 1 < n:
                handle_data("<")
                k = i + 1
            else:
                break
            if k < 0:
                # construct unterminated at EOF — goahead(end=1) recovery
                k = rawdata.find(">", i + 1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                if self.cdata_elem:
                    handle_data(rawdata[i:k])
                else:
                    handle_data(unescape(rawdata[i:k]))
            i = k
        if i < n and not self.cdata_elem:
            handle_data(unescape(rawdata[i:n]))
        self._finalize_text()
        self.rawdata = ""

    def _parse_starttag_whole(self, i: int) -> int:
        """parse_starttag minus buffer-boundary returns: with the full
        document in hand, ``-1`` means unterminated-at-EOF only."""
        rawdata = self.rawdata
        match = _tagfind.match(rawdata, i + 1)
        k = match.end()
        nxt = rawdata[k:k + 1]
        if nxt == ">":
            # attribute-free tag (the common case): tagfind's trailing
            # `(?:\s|/(?!>))*` consumed exactly what locatestarttagend
            # would have, so the locate scan and the attr loop are no-ops
            self.lasttag = tag = match.group(1).lower()
            self.handle_starttag(tag, [])
            if tag in self.CDATA_CONTENT_ELEMENTS:
                self.set_cdata_mode(tag)
            return k + 1
        if nxt == "/" and rawdata.startswith("/>", k):
            self.lasttag = tag = match.group(1).lower()
            self.handle_startendtag(tag, [])
            return k + 2
        m = _locatestarttagend.match(rawdata, i)
        j = m.end()
        nxt = rawdata[j:j + 1]
        if nxt == ">":
            endpos = j + 1
        elif nxt == "/":
            if rawdata.startswith("/>", j):
                endpos = j + 2
            else:
                return -1  # '/' then EOF/garbage — stdlib waits, recovery fires
        elif nxt == "":
            return -1  # EOF inside the tag
        elif nxt in ("abcdefghijklmnopqrstuvwxyz="
                     "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
            return -1  # EOF in/before an attribute value
        else:
            endpos = j if j > i else i + 1
        attrs = []
        self.lasttag = tag = match.group(1).lower()
        while k < endpos:
            am = _attrfind.match(rawdata, k)
            if not am:
                break
            attrname, rest, attrvalue = am.group(1, 2, 3)
            if not rest:
                attrvalue = None
            elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                    attrvalue[:1] == '"' == attrvalue[-1:]:
                attrvalue = attrvalue[1:-1]
            if attrvalue:
                attrvalue = unescape(attrvalue)
            attrs.append((attrname.lower(), attrvalue))
            k = am.end()
        end = rawdata[k:endpos].strip()
        if end not in (">", "/>"):
            self.handle_data(rawdata[i:endpos])
            return endpos
        if end.endswith("/>"):
            self.handle_startendtag(tag, attrs)
        else:
            self.handle_starttag(tag, attrs)
            if tag in self.CDATA_CONTENT_ELEMENTS:
                self.set_cdata_mode(tag)
        return endpos

    def _parse_endtag_whole(self, i: int) -> int:
        """parse_endtag fast path: a well-formed ``</tag>`` needs one regex
        (its ``>`` is necessarily the first ``>``, so the separate
        endendtag.search is redundant); anything else — bogus closers,
        ``</tag junk>``, unterminated at EOF — delegates to the stdlib
        method unchanged."""
        rawdata = self.rawdata
        m = _endtagfind.match(rawdata, i)
        if m is None:
            return self.parse_endtag(i)
        gtpos = m.end()
        elem = m.group(1).lower()
        if self.cdata_elem is not None and elem != self.cdata_elem:
            self.handle_data(rawdata[i:gtpos])
            return gtpos
        self.handle_endtag(elem)
        self.clear_cdata_mode()
        return gtpos

    def close(self) -> None:  # stdlib drive: finalize after the last feed
        super().close()
        self._finalize_text()

    # Comments, PIs, declarations: dropped.
    def handle_comment(self, data: str) -> None:  # noqa: D102
        pass

    def handle_decl(self, decl: str) -> None:  # noqa: D102
        pass

    def handle_pi(self, data: str) -> None:  # noqa: D102
        pass


def parse_html(html: str, suppress_tags: frozenset[str] | None = None,
               deny_attrs=None) -> Node:
    """Parse HTML text into a tolerant DOM tree; never raises on bad markup.

    Uses the specialized one-shot tokenizer; any unexpected error falls back
    to the stock ``HTMLParser`` drive (same callbacks, same DOM) so the fast
    path can never lose a document the stdlib path would have parsed.
    ``suppress_tags`` drops those subtrees at build time (== building the
    full tree then pruning them — the extraction path passes PRUNE_TAGS so
    nav/script/footer text is never even materialized)."""
    if not _FAST_PATH_OK:  # stdlib internals unavailable on this build
        return parse_html_stdlib(html, suppress_tags, deny_attrs)
    builder = _DomBuilder(suppress_tags, deny_attrs)
    try:
        builder.parse(html)
    except DocTimeBudgetError:
        raise  # budget blown ≠ markup the stdlib path should retry
    except Exception:
        return parse_html_stdlib(html, suppress_tags, deny_attrs)
    return builder.root


def parse_html_stdlib(html: str,
                      suppress_tags: frozenset[str] | None = None,
                      deny_attrs=None) -> Node:
    """Reference tokenizer drive (stdlib feed/close) — the executable spec
    the fast path is tested against; also the fallback."""
    builder = _DomBuilder(suppress_tags, deny_attrs)
    try:
        builder.feed(html)
        builder.close()
    except DocTimeBudgetError:
        raise  # the keep-partial-tree tolerance is for markup, not budget
    except Exception:
        # html.parser is highly tolerant already; any residual error keeps
        # whatever tree was built so far (extraction failures must never kill
        # the job — mirrors /root/reference/app/main.py:438-441 semantics).
        try:
            builder._finalize_text()
        except Exception:
            pass
    return builder.root
