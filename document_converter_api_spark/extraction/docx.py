"""Minimal DOCX → markdown (U3, SURVEY.md §2.9).

MarkItDown 0.1.0 converts DOCX via mammoth→HTML→markdownify (the ``.docx``
half of the reference's whitelist, /root/reference/app/main.py:204). mammoth
is not installable here, so this is a stdlib ``zipfile`` + ``xml.etree``
reader for the OOXML subset our fixtures emit: paragraphs with Heading1-6 /
ListParagraph styles, real numbered/nested lists (``w:numPr`` +
``word/numbering.xml`` numFmt per level, counters continued across
interleaved paragraphs as Word does), bold/italic runs, hyperlinks
(``r:id`` resolved through ``word/_rels/document.xml.rels``; ``w:anchor``
internal links as ``[text](#anchor)``), and tables serialized as pipe
tables.
Output uses the same markdown dialect as the HTML path (``markdown.py``:
``**``/``*`` emphasis, ``[text](url)`` links, ``| --- |`` tables with
``\\|`` cell escaping) so downstream post-format (F2/F3) is format-agnostic.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from .deadline import check_now as _check_deadline_now

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_RELS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_HEADING_RE = re.compile(r"^[Hh]eading\s*([1-6])$")


def _load_rels(zf: zipfile.ZipFile) -> dict[str, str]:
    """rId → target url from word/_rels/document.xml.rels (absent in
    link-free documents)."""
    try:
        info = zf.getinfo("word/_rels/document.xml.rels")
    except KeyError:
        return {}
    if info.file_size > MAX_MEMBER_BYTES:
        return {}  # rels bomb: extract without link targets rather than OOM
    data = zf.read(info)
    rels = {}
    for rel in ET.fromstring(data).findall(f"{_RELS}Relationship"):
        rid, target = rel.get("Id"), rel.get("Target")
        if rid and target:
            rels[rid] = target
    return rels


def _load_numbering(zf: zipfile.ZipFile) -> dict[str, dict[int, str]]:
    """numId → {ilvl → numFmt} from word/numbering.xml (absent in list-free
    documents; numPr paragraphs then fall back to bullets)."""
    try:
        info = zf.getinfo("word/numbering.xml")
    except KeyError:
        return {}
    if info.file_size > MAX_MEMBER_BYTES:
        return {}
    root = ET.fromstring(zf.read(info))
    abstract: dict[str, dict[int, str]] = {}
    for an in root.findall(f"{_W}abstractNum"):
        aid = an.get(f"{_W}abstractNumId") or ""
        lvls: dict[int, str] = {}
        for lvl in an.findall(f"{_W}lvl"):
            try:
                ilvl = int(lvl.get(f"{_W}ilvl", "0"))
            except ValueError:
                continue
            fmt = lvl.find(f"{_W}numFmt")
            lvls[ilvl] = (fmt.get(f"{_W}val", "bullet")
                          if fmt is not None else "bullet")
        abstract[aid] = lvls
    nums: dict[str, dict[int, str]] = {}
    for num in root.findall(f"{_W}num"):
        nid = num.get(f"{_W}numId")
        aref = num.find(f"{_W}abstractNumId")
        if nid and aref is not None:
            nums[nid] = abstract.get(aref.get(f"{_W}val", ""), {})
    return nums


def _num_pr(para: ET.Element) -> tuple[str, int] | None:
    """(numId, ilvl) of a real numbered-list paragraph, else None."""
    ppr = para.find(f"{_W}pPr")
    if ppr is None:
        return None
    numpr = ppr.find(f"{_W}numPr")
    if numpr is None:
        return None
    nid_el = numpr.find(f"{_W}numId")
    ilvl_el = numpr.find(f"{_W}ilvl")
    if nid_el is None:
        return None
    try:
        ilvl = int(ilvl_el.get(f"{_W}val", "0")) if ilvl_el is not None else 0
    except ValueError:
        ilvl = 0
    return nid_el.get(f"{_W}val", ""), max(0, min(ilvl, 8))


def _run_md(run: ET.Element) -> str:
    rpr = run.find(f"{_W}rPr")
    bold = rpr is not None and rpr.find(f"{_W}b") is not None
    italic = rpr is not None and rpr.find(f"{_W}i") is not None
    text = "".join(t.text or "" for t in run.findall(f"{_W}t"))
    if not text:
        return ""
    if bold:
        text = f"**{text}**"
    if italic:
        text = f"*{text}*"
    return text


def _para_inline(para: ET.Element, rels: dict[str, str]) -> str:
    """Runs + hyperlinks of one paragraph, in document order."""
    parts: list[str] = []
    for child in para:
        if child.tag == f"{_W}r":
            parts.append(_run_md(child))
        elif child.tag == f"{_W}hyperlink":
            inner = "".join(_run_md(r) for r in child.findall(f"{_W}r"))
            href = rels.get(child.get(f"{_R}id", ""), "")
            if not href:
                # internal bookmark link (no rels entry, w:anchor instead)
                anchor = child.get(f"{_W}anchor", "")
                href = f"#{anchor}" if anchor else ""
            if inner:
                parts.append(f"[{inner}]({href})" if href else inner)
    return "".join(parts).strip()


def _para_block(para: ET.Element, rels: dict[str, str],
                numbering: dict[str, dict[int, str]],
                counters: dict[str, dict[int, int]]
                ) -> tuple[str, str] | None:
    """One paragraph → (kind, markdown); kind is ``"li"`` for list items
    (grouped into a single newline-joined block by the caller, matching the
    HTML dialect) or ``"block"``.

    Real numbered lists: ``w:numPr`` selects (numId, ilvl); the level's
    numFmt from numbering.xml picks the marker (decimal → ``N.``, anything
    else → ``-``); decimal counters continue across interleaved paragraphs
    per numId (Word semantics) and reset for deeper levels whenever a
    shallower item advances. Indentation is two spaces per level — the
    same dialect _serialize_list emits for nested HTML lists."""
    ppr = para.find(f"{_W}pPr")
    style = ""
    if ppr is not None:
        st = ppr.find(f"{_W}pStyle")
        if st is not None:
            style = st.get(f"{_W}val", "")
    text = _para_inline(para, rels)
    if not text:
        return None
    num = _num_pr(para)
    if num is not None:
        numid, ilvl = num
        fmt = numbering.get(numid, {}).get(ilvl, "bullet")
        indent = "  " * ilvl
        if fmt == "decimal":
            c = counters.setdefault(numid, {})
            c[ilvl] = c.get(ilvl, 0) + 1
            for deeper in [l for l in c if l > ilvl]:
                del c[deeper]
            marker = f"{c[ilvl]}."
        else:
            marker = "-"
        return "li", f"{indent}{marker} {text}"
    m = _HEADING_RE.match(style)
    if m:
        return "block", "#" * int(m.group(1)) + " " + text
    if style == "ListParagraph":
        # style-only list item (no numPr): legacy bullet, kept as its own
        # block for golden-stability with the existing corpus
        return "block", f"- {text}"
    return "block", text


def _table_block(tbl: ET.Element, rels: dict[str, str]) -> str | None:
    """w:tbl → pipe table, same dialect as markdown._serialize_table
    (first row is the header, cells escape '|', width-padded)."""
    rows: list[list[str]] = []
    for tr in tbl.findall(f"{_W}tr"):
        cells = []
        for tc in tr.findall(f"{_W}tc"):
            text = " ".join(
                t for t in (_para_inline(p, rels)
                            for p in tc.findall(f"{_W}p")) if t)
            cells.append(text.replace("\n", " ").replace("|", "\\|"))
        if cells:
            rows.append(cells)
    if not rows:
        return None
    width = max(len(r) for r in rows)
    out = ["| " + " | ".join(rows[0] + [""] * (width - len(rows[0]))) + " |",
           "| " + " | ".join(["---"] * width) + " |"]
    for r in rows[1:]:
        out.append("| " + " | ".join(r + [""] * (width - len(r))) + " |")
    return "\n".join(out)


# Decompressed-member cap: a crafted DOCX can deflate 1000:1; CPython's
# ZipExtFile truncates at the declared file_size, so gating on it bounds
# worker memory (oversize → error row via the extract_document wrapper).
MAX_MEMBER_BYTES = 64 * 1024 * 1024

# Body children between deadline checks: one paragraph or table costs
# microseconds to milliseconds, so a clock read per 64 is unmeasurable.
_CHECK_EVERY = 64


def docx_to_markdown(data: bytes) -> str:
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        if zf.getinfo("word/document.xml").file_size > MAX_MEMBER_BYTES:
            raise ValueError("docx member exceeds decompression cap")
        xml_bytes = zf.read("word/document.xml")
        _check_deadline_now()  # after inflating the main part
        rels = _load_rels(zf)
        numbering = _load_numbering(zf)
    root = ET.fromstring(xml_bytes)
    _check_deadline_now()  # after the one C-level parse
    body = root.find(f"{_W}body")
    if body is None:
        return ""
    counters: dict[str, dict[int, int]] = {}
    blocks: list[str] = []
    li_run: list[str] = []  # consecutive numPr items → one list block

    def flush_li() -> None:
        if li_run:
            blocks.append("\n".join(li_run))
            li_run.clear()

    # walk body children in document order — iter() would flatten table-cell
    # paragraphs out of their tables and emit them twice
    for i, child in enumerate(body):
        if i % _CHECK_EVERY == 0:
            _check_deadline_now()
        if child.tag == f"{_W}p":
            item = _para_block(child, rels, numbering, counters)
        elif child.tag == f"{_W}tbl":
            tb = _table_block(child, rels)
            item = ("block", tb) if tb else None
        else:
            item = None
        if item is None:
            continue
        kind, md = item
        if kind == "li":
            li_run.append(md)
        else:
            flush_li()
            blocks.append(md)
    flush_li()
    return "\n\n".join(blocks)
