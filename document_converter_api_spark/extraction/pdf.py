"""Minimal PDF text extraction (U2, SURVEY.md §2.9).

MarkItDown 0.1.0's PDF path is pdfminer.six ``extract_text`` — layout-ordered
plain text with form-feed page separators (the operator the reference invokes
at /root/reference/app/main.py:383-391 for ``.pdf`` uploads, whitelist at
:204; its Dockerfile also ships poppler/qpdf/tesseract for hard inputs).
pdfminer is not installable in this sandbox (no network), so this is a
stdlib-only extractor with two tiers:

* **structured path** (preferred): index ``N 0 obj`` objects, walk
  Catalog → Pages → Kids for page order, pull each page's ``/Contents``
  stream(s) and ``/Resources /Font`` map, and tokenize the content streams.
  Type0/CID fonts with a ``/ToUnicode`` CMap (bfchar/bfrange, Identity-H
  2-byte codes) are decoded through the CMap; simple fonts decode latin-1.
  Works identically for classic-xref and xref-stream (PDF 1.5+) files —
  object discovery is linear, not offset-driven, so a compressed
  cross-reference table changes nothing.
* **linear fallback**: when no page tree is found, scan raw content
  streams in file order (the original fixture-subset behavior), skipping
  non-content stream types (XRef, ObjStm, Metadata, CMaps, images).

Degradation contract (instead of silent garbage):

* encrypted documents (``/Encrypt`` in the trailer) raise
  :class:`PdfEncryptedError` → tagged ``error='encrypted'`` upstream
  (the reference handles these via qpdf);
* documents with zero extractable text but image XObjects raise
  :class:`PdfNeedsOcrError` → ``error='needs_ocr'`` (the reference OCRs
  them via tesseract, which this sandbox does not ship).

Tokenizer coverage: ``BT/ET``, ``Tf``, ``Td/TD/T*``, ``Tj``/``TJ``/``'``,
literal ``(...)`` (with escapes/kerning arrays) and hex ``<...>`` strings,
plain and FlateDecode streams.

Semantics (pdfminer-style):
* each ``Td``/``TD``/``T*``/``Tm``/``'`` newline-advance emits ``\\n``;
* strings within one line concatenate;
* every page's text ends with ``\\n\\f``.

READING-ORDER CONTRACT (round-5, pinned in
tests/test_pdf_robustness.py::test_reading_order_contract_is_stream_order):
text is emitted in CONTENT-STREAM OPERATOR ORDER. pdfminer (MarkItDown's
engine) instead runs layout analysis and orders by y-then-x, so on a
multi-column page whose generator emits the right column first the two
engines differ — deliberately. Stream order is deterministic,
single-pass, and coordinate-free; for single-column documents (the
golden corpus, and the overwhelming majority of crawled PDFs) the two
orders coincide, which the byte-identity goldens prove. Flipping to
layout order would require tracking the full text matrix through
``Tm``/``Td``/``TD`` and a y-then-x sort per page — if ever done, the
goldens must be regenerated in the same change.

Pure Python; no Spark imports.
"""

from __future__ import annotations

import re
import zlib

from .deadline import check as _check_deadline
from .deadline import check_now as _check_deadline_now

_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")


class PdfEncryptedError(Exception):
    """Document is encrypted — cannot extract without decryption keys."""


class PdfNeedsOcrError(Exception):
    """Document has no text operators, only raster images — needs OCR."""

# Per-stream inflate cap: page content streams are normally well under a
# few MB; anything larger is a decompression bomb for this pipeline.
MAX_STREAM_BYTES = 64 * 1024 * 1024


def _iter_streams(data: bytes):
    """Yield (dict_params, stream_body) for each content stream.

    Uses the literal ``/Length`` when present so binary (Flate) bodies that
    happen to contain ``endstream`` bytes are handled correctly; indirect
    /Length references (not emitted by our fixture subset) fall back to the
    next ``endstream`` keyword.
    """
    pos = 0
    n = len(data)
    while pos < n:
        si = data.find(b"stream", pos)
        if si < 0:
            return
        if data[max(0, si - 3):si] == b"end":  # matched inside "endstream"
            pos = si + 6
            continue
        after = si + 6
        if data[after:after + 2] == b"\r\n":
            body_start = after + 2
        elif data[after:after + 1] == b"\n":
            body_start = after + 1
        else:
            pos = after
            continue
        oi = data.rfind(b"obj", 0, si)
        params = data[oi:si] if oi >= 0 else data[max(0, si - 512):si]
        m = _LENGTH_RE.search(params)
        if m:
            length = int(m.group(1))
            body = data[body_start:body_start + length]
            end = data.find(b"endstream", body_start + length)
            pos = end + 9 if end >= 0 else body_start + length
        else:
            end = data.find(b"endstream", body_start)
            if end < 0:
                return
            body = data[body_start:end]
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith(b"\n"):
                body = body[:-1]
            pos = end + 9
        yield params, body


def _unescape_literal(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b != 0x5C:  # backslash
            out.append(b)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = raw[i]
        if c in b"nrtbf":
            out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[c])
            i += 1
        elif c in b"()\\":
            out.append(c)
            i += 1
        elif 0x30 <= c <= 0x37:  # octal escape, up to 3 digits
            j = i
            while j < n and j < i + 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif c == 0x0A:  # line continuation
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _iter_strings_and_ops(stream: bytes):
    """Yield ('str', bytes) for string objects and ('op', name) for operators
    relevant to text layout, in stream order."""
    i = 0
    n = len(stream)
    while i < n:
        _check_deadline()  # per content-stream token; strided clock read
        b = stream[i]
        if b == 0x28:  # '(' literal string, balanced parens with escapes
            depth = 1
            j = i + 1
            start = j
            while j < n and depth:
                c = stream[j]
                if c == 0x5C:
                    j += 2
                    continue
                if c == 0x28:
                    depth += 1
                elif c == 0x29:
                    depth -= 1
                j += 1
            yield ("str", _unescape_literal(stream[start:j - 1]))
            i = j
        elif b == 0x3C and i + 1 < n and stream[i + 1] != 0x3C:  # '<' hex string
            j = stream.find(b">", i + 1)
            if j < 0:
                break
            hexdigits = re.sub(rb"\s+", b"", stream[i + 1:j])
            if len(hexdigits) % 2:
                hexdigits += b"0"
            try:
                yield ("str", bytes.fromhex(hexdigits.decode("ascii")))
            except ValueError:
                pass
            i = j + 1
        elif b == 0x25:  # comment to EOL
            j = stream.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif b == 0x2F:  # '/' name token (operand, e.g. the font of Tf)
            j = i + 1
            while j < n and stream[j] not in b" \t\r\n()<>[]{}/%":
                j += 1
            yield ("name", stream[i + 1:j].decode("latin-1"))
            i = j
        elif (0x41 <= b <= 0x5A) or (0x61 <= b <= 0x7A) or b == 0x27 or b == 0x22:
            j = i
            while j < n and (
                (0x41 <= stream[j] <= 0x5A) or (0x61 <= stream[j] <= 0x7A)
                or stream[j] in (0x27, 0x22, 0x2A)
            ):
                j += 1
            yield ("op", stream[i:j].decode("latin-1"))
            i = j
        else:
            i += 1


class _Font:
    """Per-font decode state: a ToUnicode CMap (code → str) + code width."""

    __slots__ = ("cmap", "width")

    def __init__(self, cmap: dict[int, str] | None, width: int):
        self.cmap = cmap
        self.width = width

    def decode(self, raw: bytes) -> str:
        if self.cmap is None:
            return raw.decode("latin-1")
        w = self.width
        out = []
        for i in range(0, len(raw) - w + 1, w):
            code = int.from_bytes(raw[i:i + w], "big")
            out.append(self.cmap.get(code, "�"))
        return "".join(out)


_LATIN1_FONT = _Font(None, 1)


def _stream_to_text(stream: bytes,
                    fonts: dict[str, _Font] | None = None) -> str:
    """Decode one page content stream to text lines. ``fonts`` maps content
    resource names (the ``F1`` of ``/F1 12 Tf``) to decode state; absent
    fonts (and the fallback path, which has no resource context) decode
    latin-1."""
    lines: list[str] = []
    cur: list[str] = []
    pending: list[bytes] = []  # strings seen since last op
    in_text = False
    cur_font = _LATIN1_FONT
    last_name: str | None = None

    def newline() -> None:
        nonlocal cur
        if cur:
            lines.append("".join(cur))
            cur = []
        elif lines or in_text:
            lines.append("")

    first_line = True
    for kind, val in _iter_strings_and_ops(stream):
        if kind == "str":
            pending.append(val)
            continue
        if kind == "name":
            # operand, like a number: remembered for Tf, never clears text
            last_name = val
            continue
        op = val
        if op == "BT":
            in_text = True
            first_line = True
            pending.clear()
        elif op == "ET":
            if cur:
                lines.append("".join(cur))
                cur = []
            in_text = False
            pending.clear()
        elif op == "Tf":
            if fonts is not None and last_name is not None:
                cur_font = fonts.get(last_name, _LATIN1_FONT)
            pending.clear()
        elif op in ("Td", "TD", "T*", "Tm"):
            # Tm included: a text-matrix reset is how multi-column and
            # absolutely-positioned generators start a new line/region;
            # without it an initial Tm page would run its lines together
            if not first_line:
                newline()
            first_line = False
            pending.clear()
        elif op == "Tj":
            if pending:
                cur.append(cur_font.decode(pending[-1]))
            pending.clear()
        elif op == "TJ":
            cur.append("".join(cur_font.decode(p) for p in pending))
            pending.clear()
        elif op == "'":
            newline()
            first_line = False
            if pending:
                cur.append(cur_font.decode(pending[-1]))
            pending.clear()
        else:
            pending.clear()
    if cur:
        lines.append("".join(cur))
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Structured path: object index → page tree → per-page fonts/contents
# ---------------------------------------------------------------------------

# Stream dict types that are never page content (tokenizing their bodies
# would emit garbage "text"): cross-reference streams (PDF 1.5+), compressed
# object streams, XMP metadata, ToUnicode/other CMaps, embedded files.
_NON_CONTENT_TYPES = (b"/XRef", b"/ObjStm", b"/Metadata", b"/CMap",
                      b"/EmbeddedFile")


def _inflate(params: bytes, body: bytes) -> bytes | None:
    """Bounded FlateDecode (bomb/truncation → None, like corrupt streams)."""
    if b"/FlateDecode" not in params:
        return body
    try:
        d = zlib.decompressobj()
        out = d.decompress(body, MAX_STREAM_BYTES)
        _check_deadline_now()  # one C call of up to MAX_STREAM_BYTES
        if d.unconsumed_tail or not d.eof:
            return None
        return out
    except zlib.error:
        return None


def _index_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Linear ``N G obj`` scan → {num: (dict_bytes, raw_stream_body|None)}.

    Offset-free by design: works identically whether the file carries a
    classic ``xref`` table or a PDF 1.5 cross-reference stream, and
    tolerates broken/absent xref offsets entirely. The scan position always
    jumps past stream bodies (length-delimited when /Length is literal), so
    binary bodies containing ``N 0 obj`` bytes cannot spoof objects."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    pos, n = 0, len(data)
    while pos < n:
        _check_deadline()  # per object; strided clock read
        m = _OBJ_RE.search(data, pos)
        if not m:
            break
        num, start = int(m.group(1)), m.end()
        si = data.find(b"stream", start)
        ei = data.find(b"endobj", start)
        if si != -1 and (ei == -1 or si < ei):
            params = data[start:si]
            after = si + 6
            if data[after:after + 2] == b"\r\n":
                bs = after + 2
            elif data[after:after + 1] == b"\n":
                bs = after + 1
            else:
                bs = after
            lm = _LENGTH_RE.search(params)
            if lm:
                ln = int(lm.group(1))
                body = data[bs:bs + ln]
                end = data.find(b"endstream", bs + ln)
            else:  # indirect /Length: delimit by the endstream keyword
                end = data.find(b"endstream", bs)
                body = data[bs:end] if end >= 0 else data[bs:]
                if body.endswith(b"\r\n"):
                    body = body[:-2]
                elif body.endswith(b"\n"):
                    body = body[:-1]
            scan_from = end + 9 if end >= 0 else bs + len(body)
            ei = data.find(b"endobj", scan_from)
            objs.setdefault(num, (params, body))
            pos = ei + 6 if ei >= 0 else n
        else:
            params = data[start:ei] if ei >= 0 else data[start:]
            objs.setdefault(num, (params, None))
            pos = ei + 6 if ei >= 0 else n
    return objs


def _ref(params: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", params)
    return int(m.group(1)) if m else None


def _ref_list(blob: bytes) -> list[int]:
    return [int(g) for g in re.findall(rb"(\d+)\s+\d+\s+R", blob)]


def _balanced_dict_after(params: bytes, key: bytes) -> bytes | None:
    """The ``<< ... >>`` region following ``/key`` (balanced nesting)."""
    m = re.search(rb"/" + key + rb"\s*<<", params)
    if not m:
        return None
    i = m.end() - 2
    depth, n = 0, len(params)
    start = i
    while i < n - 1:
        pair = params[i:i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return params[start:i]
        else:
            i += 1
    return None


_MAX_BFRANGE = 1 << 16  # Identity-H code space; larger ranges are bombs


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """bfchar/bfrange sections of a ToUnicode CMap → {code: unicode str}."""
    mapping: dict[int, str] = {}

    def uni(hexdst: bytes) -> str:
        try:
            return bytes.fromhex(hexdst.decode("ascii")).decode(
                "utf-16-be", "replace")
        except ValueError:
            return "�"

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        for src, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            mapping[int(src, 16)] = uni(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        body = m.group(1)
        for lo, hi, arr in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[(.*?)\]",
                body, re.S):
            base = int(lo, 16)
            for k, d in enumerate(re.findall(rb"<([0-9A-Fa-f]+)>", arr)):
                if k > int(hi, 16) - base:
                    break
                mapping[base + k] = uni(d)
        for lo, hi, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                body):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i - lo_i >= _MAX_BFRANGE:
                continue
            width = len(dst)
            base = int(dst, 16)
            for c in range(lo_i, hi_i + 1):
                mapping[c] = uni(
                    format(base + (c - lo_i), f"0{width}x").encode())
    return mapping


def _code_width(font_params: bytes, cmap: bytes) -> int:
    """Code byte width: from the CMap's codespacerange when present, else
    2 for composite (Type0) fonts, 1 for simple fonts."""
    m = re.search(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", cmap)
    if m:
        return max(1, len(m.group(1)) // 2)
    return 2 if b"/Type0" in font_params else 1


def _page_order(objs: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Page object numbers in tree order (Catalog→Pages→Kids, Kids may
    nest); falls back to file order of /Type/Page objects."""
    root = None
    for _num, (params, _body) in objs.items():
        if b"/Catalog" in params:
            root = _ref(params, b"Pages")
            break
    pages: list[int] = []

    def walk(num: int, depth: int = 0) -> None:
        if depth > 32 or num not in objs:
            return
        params, _ = objs[num]
        if b"/Page" in params and b"/Pages" not in params:
            pages.append(num)
            return
        m = re.search(rb"/Kids\s*\[(.*?)\]", params, re.S)
        if m:
            for kid in _ref_list(m.group(1)):
                walk(kid, depth + 1)

    if root is not None:
        walk(root)
    if not pages:
        pages = [num for num, (params, body) in sorted(objs.items())
                 if b"/Type" in params and b"/Page" in params
                 and b"/Pages" not in params and body is None]
    return pages


def _page_fonts(objs: dict[int, tuple[bytes, bytes | None]],
                page_params: bytes) -> dict[str, _Font]:
    """Resource-name → decode state for one page (only fonts that need a
    CMap are materialized; everything else defaults to latin-1)."""
    res = _balanced_dict_after(page_params, b"Resources")
    if res is None:
        rnum = _ref(page_params, b"Resources")
        if rnum is not None and rnum in objs:
            res = objs[rnum][0]
    if res is None:
        return {}
    fdict = _balanced_dict_after(res, b"Font")
    if fdict is None:
        return {}
    fonts: dict[str, _Font] = {}
    for name, fnum in re.findall(rb"/([^\s/<>\[\]]+)\s+(\d+)\s+\d+\s+R",
                                 fdict):
        fparams = objs.get(int(fnum), (b"", None))[0]
        tun = _ref(fparams, b"ToUnicode")
        if tun is None or tun not in objs:
            continue
        tparams, tbody = objs[tun]
        if tbody is None:
            continue
        cmap_raw = _inflate(tparams, tbody)
        if cmap_raw is None:
            continue
        fonts[name.decode("latin-1")] = _Font(
            _parse_tounicode(cmap_raw), _code_width(fparams, cmap_raw))
    return fonts


def _page_text(objs: dict[int, tuple[bytes, bytes | None]],
               page_params: bytes) -> str:
    m = re.search(rb"/Contents\s*\[(.*?)\]", page_params, re.S)
    if m:
        refs = _ref_list(m.group(1))
    else:
        c = _ref(page_params, b"Contents")
        refs = [c] if c is not None else []
    bodies = []
    for r in refs:
        if r not in objs:
            continue
        params, body = objs[r]
        if body is None:
            continue
        dec = _inflate(params, body)
        if dec is not None:
            bodies.append(dec)
    if not bodies:
        return ""
    return _stream_to_text(b"\n".join(bodies), _page_fonts(objs, page_params))


_ENC_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")


def _scrub_dict(params: bytes, blank_subdicts: bool = False) -> bytes:
    """Offset-preserving copy with PDF string values blanked to spaces —
    and, optionally, everything inside NESTED ``<< >>`` sub-dictionaries.

    Dictionary key order is arbitrary and /O//U are 32 ARBITRARY bytes
    (review findings: an /O literal string containing ``/V 2`` corrupted
    revision parsing, and a /CF sub-dict's ``/Length 16`` — bytes, not
    bits — was picked over the top-level ``/Length 128`` when ordered
    first). All key/int/flag scanning therefore runs on scrubbed bytes;
    only VALUE extraction reads the original at the matched offset."""
    out = bytearray(params)
    n = len(params)
    base = 1 if params.lstrip().startswith(b"<<") else 0
    depth = 0
    i = 0
    while i < n:
        c = params[i]
        if c == 0x28:  # ( literal string — honor escapes + nesting
            j, sdepth = i + 1, 1
            while j < n and sdepth:
                cj = params[j]
                if cj == 0x5C:
                    j += 2
                    continue
                if cj == 0x28:
                    sdepth += 1
                elif cj == 0x29:
                    sdepth -= 1
                j += 1
            for k in range(i, min(j, n)):
                out[k] = 0x20
            i = j
            continue
        if params[i:i + 2] == b"<<":
            depth += 1
            i += 2
            continue
        if params[i:i + 2] == b">>":
            depth -= 1
            i += 2
            continue
        if c == 0x3C:  # < hex string
            j = params.find(b">", i + 1)
            j = n if j < 0 else j + 1
            for k in range(i, j):
                out[k] = 0x20
            i = j
            continue
        if blank_subdicts and depth > base:
            out[i] = 0x20
        i += 1
    return bytes(out)


def _dict_int(params: bytes, name: bytes, default: int | None = None):
    """Top-level integer value of ``/name`` — scans with strings AND
    nested sub-dicts blanked so /CF internals and /O//U bytes can't
    shadow the real entry."""
    m = re.search(name + rb"\s+(-?\d+)", _scrub_dict(params, True))
    return int(m.group(1)) if m else default


def _dict_string(params: bytes, name: bytes) -> bytes | None:
    """Value of ``/name`` as a PDF string: hex ``<...>`` or literal
    ``(...)`` with backslash escapes (O/U entries are arbitrary bytes).
    The KEY is located on a string-blanked copy (a key name inside
    another entry's string value must not match); the VALUE is read from
    the original bytes at that offset."""
    # locate the KEY on the scrubbed copy (the value may be blanked there,
    # so whitespace-skipping must happen on the ORIGINAL bytes)
    m = re.search(name + rb"(?![A-Za-z0-9])", _scrub_dict(params))
    if not m:
        return None
    return _string_at(params, m.end())


_PDF_WS = b"\x00\t\n\x0c\r "


def _string_at(params: bytes, i: int) -> bytes | None:
    """Parse the PDF string starting at or after offset ``i`` (hex or
    literal), skipping PDF whitespace in the ORIGINAL bytes first."""
    while i < len(params) and params[i] in _PDF_WS:
        i += 1
    if i >= len(params):
        return None
    if params[i:i + 1] == b"<":
        j = params.find(b">", i)
        if j < 0:
            return None
        hx = params[i + 1:j].decode("ascii", "ignore")
        hx = "".join(ch for ch in hx if not ch.isspace())
        if len(hx) % 2:  # §7.3.4.3: odd final digit reads as digit+'0'
            hx += "0"
        try:
            return bytes.fromhex(hx)
        except ValueError:
            return None
    if params[i:i + 1] != b"(":
        return None
    out, depth, i = bytearray(), 1, i + 1
    esc = {b"n"[0]: 10, b"r"[0]: 13, b"t"[0]: 9, b"b"[0]: 8, b"f"[0]: 12,
           b"("[0]: 40, b")"[0]: 41, b"\\"[0]: 92}
    while i < len(params) and depth:
        c = params[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= len(params):
                break
            c2 = params[i]
            if 0x30 <= c2 <= 0x37:  # octal, up to 3 digits
                oct_s, k = "", 0
                while k < 3 and i < len(params) and 0x30 <= params[i] <= 0x37:
                    oct_s += chr(params[i])
                    i += 1
                    k += 1
                out.append(int(oct_s, 8) & 0xFF)
                continue
            out.append(esc.get(c2, c2))
        elif c == 0x28:
            depth += 1
            out.append(c)
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
        else:
            out.append(c)
        i += 1
    return bytes(out)


def _parse_id0(region: bytes) -> bytes:
    """First element of the trailer /ID array — hex ``<...>`` (tolerating
    odd length per §7.3.4.3) or literal ``(...)`` form; b'' if absent or
    malformed (key derivation then proceeds without it, matching readers
    that treat a broken ID as empty)."""
    m = re.search(rb"/ID\s*\[", _scrub_dict(region))
    if not m:
        return b""
    return _string_at(region, m.end()) or b""


def _find_encrypt_dict(data: bytes, objs) -> tuple[int, bytes] | None:
    """(object number, trailer-ish region holding /ID) when encrypted."""
    t = data.rfind(b"trailer")
    if t >= 0:
        m = _ENC_REF_RE.search(data, t)
        if m:
            return int(m.group(1)), data[t:]
    for _num, (params, _body) in objs.items():
        if b"/Type" in params and b"/XRef" in params \
                and b"/Encrypt" in params:
            m = _ENC_REF_RE.search(params)
            if m:
                return int(m.group(1)), params
    # /Encrypt present but not resolvable (malformed) — still encrypted
    if (t >= 0 and b"/Encrypt" in data[t:t + 2048]):
        raise PdfEncryptedError("PDF is encrypted (unresolvable /Encrypt)")
    return None


def _build_decryptor(data: bytes, objs):
    """Empty-user-password Standard-handler decryptor, or None when the
    file is not encrypted. Raises :class:`PdfEncryptedError` when the file
    IS encrypted but needs a real password or an unsupported scheme —
    exactly the cases that stay tagged ``encrypted``."""
    from .pdf_crypt import (StandardDecryptor, compute_key, compute_key_r6,
                            verify_user_password, verify_user_password_r6)

    found = _find_encrypt_dict(data, objs)
    if found is None:
        return None, -1
    enc_num, id_region = found
    if enc_num not in objs:
        raise PdfEncryptedError("encrypt dict object missing")
    enc = objs[enc_num][0]
    # name/flag scanning on string-blanked bytes: /O//U are 32 ARBITRARY
    # bytes and may contain any token as a substring
    enc_scrub = _scrub_dict(enc)
    if b"/Standard" not in enc_scrub:
        raise PdfEncryptedError("non-Standard security handler")
    v = _dict_int(enc, rb"/V", 0)
    r = _dict_int(enc, rb"/R", 2)
    p = _dict_int(enc, rb"/P", -1)
    length = _dict_int(enc, rb"/Length", 40)
    o_entry = _dict_string(enc, rb"/O")
    u_entry = _dict_string(enc, rb"/U")
    if o_entry is None or u_entry is None or len(o_entry) < 32:
        raise PdfEncryptedError("malformed /O//U entries")
    if v == 5:
        # AES-256 "AESV3" (ISO 32000-2; R=5 is the deprecated Adobe
        # variant). The file key unwraps from /UE, so neither /P, /ID
        # nor /Length participates; per-object keys are the file key.
        if r not in (5, 6):
            raise PdfEncryptedError(f"unsupported encryption V=5 R={r}")
        ue_entry = _dict_string(enc, rb"/UE")
        if ue_entry is None:
            raise PdfEncryptedError("AESV3 without /UE entry")
        try:
            verified = verify_user_password_r6(u_entry, r, password=b"")
            key = (compute_key_r6(u_entry, ue_entry, r, password=b"")
                   if verified else b"")
        except Exception as e:  # malformed crypto metadata → stable tag
            raise PdfEncryptedError(
                f"undecryptable encrypt dict: {e}") from e
        if not verified:
            raise PdfEncryptedError(
                "password-protected (non-empty user password)")
        return StandardDecryptor(key, aes=True, v5=True), enc_num
    aes = False
    if v == 4:
        if b"/AESV2" in enc_scrub:
            aes = True
        elif b"/V2" not in enc_scrub:
            raise PdfEncryptedError("unsupported V4 crypt filter")
    elif v not in (1, 2) or r not in (2, 3):
        raise PdfEncryptedError(f"unsupported encryption V={v} R={r}")
    # any PDF whitespace may separate the key from the value (§7.2.2)
    encrypt_metadata = not re.search(rb"/EncryptMetadata\s+false",
                                     enc_scrub)
    id0 = _parse_id0(id_region)
    try:
        key = compute_key(o_entry, p, id0, r, max(length, 40) // 8,
                          password=b"", encrypt_metadata=encrypt_metadata)
        verified = verify_user_password(key, u_entry, id0, r)
    except Exception as e:  # malformed crypto metadata → stable tag
        raise PdfEncryptedError(f"undecryptable encrypt dict: {e}") from e
    if not verified:
        raise PdfEncryptedError(
            "password-protected (non-empty user password)")
    return StandardDecryptor(key, aes), enc_num


def _decrypt_objects(objs, dec, enc_num: int):
    """Decrypt every object's stream body with its per-object key.

    Generation numbers are taken as 0 — the linear indexer keeps the first
    occurrence of each object number, and gen>0 appears only in
    incrementally-updated files (a body that fails AES padding is dropped
    rather than emitted as noise). XRef streams are NEVER encrypted per
    spec; the encrypt dict itself is likewise plaintext."""
    out = {}
    for num, (params, body) in objs.items():
        if body is None or num == enc_num \
                or (b"/Type" in params and b"/XRef" in params):
            out[num] = (params, body)
            continue
        try:
            out[num] = (params, dec.decrypt(num, 0, body))
        except ValueError:
            out[num] = (params, None)
    return out


def pdf_to_text(data: bytes) -> str:
    """Extract layout text; every page's text ends with ``\\n\\f``.

    Structured page-tree path when the document has one (required for CID
    ToUnicode decoding and correct page order under xref streams), linear
    stream scan otherwise.

    Encrypted files (Standard handler RC4-40/RC4-128/AES-128 "AESV2"/
    AES-256 "AESV3" R5-R6) with an EMPTY user password — the
    overwhelmingly common owner-password-only restriction case the
    reference reads via qpdf — are decrypted in place; genuinely
    passworded files and unsupported schemes raise
    :class:`PdfEncryptedError`, and image-only documents
    :class:`PdfNeedsOcrError`, per the module degradation contract."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")

    objs = _index_objects(data)
    decryptor, enc_num = _build_decryptor(data, objs)
    if decryptor is not None:
        objs = _decrypt_objects(objs, decryptor, enc_num)

    page_nums = _page_order(objs)
    if page_nums:
        pages = []
        for p in page_nums:
            _check_deadline_now()  # page boundary: coarse, unstrided
            pages.append(_page_text(objs, objs[p][0]))
    else:
        # fallback: raw content streams in file order (no page tree
        # found). Encrypted bodies are only valid through the per-object
        # keys, so the encrypted fallback walks the decrypted index
        # instead of the raw byte scan.
        pages = []
        stream_iter = (objs.values() if decryptor is not None
                       else _iter_streams(data))
        for params, body in stream_iter:
            if body is None:
                continue
            dec = _inflate(params, body)
            if dec is None:
                continue
            if any(t in params for t in _NON_CONTENT_TYPES) \
                    or b"/Image" in params or b"/XObject" in params:
                continue
            pages.append(_stream_to_text(dec))

    if not any(p.strip() for p in pages):
        has_image = any(b"/Subtype" in params and b"/Image" in params
                        for params, _body in objs.values())
        if has_image:
            raise PdfNeedsOcrError(
                "no text operators; raster-image pages need OCR "
                "(reference path: tesseract)")
    if not pages:
        return ""
    # pdfminer.six extract_text style: every page ends with "\n\f".
    return "".join(p + "\n\f" for p in pages)
