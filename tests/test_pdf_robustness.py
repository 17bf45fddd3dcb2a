"""PDF robustness tier (VERDICT round-1 item 5): xref-stream files,
Type0/CID fonts with ToUnicode CMaps, image-only pages → needs_ocr,
encrypted files → encrypted — plus regression byte-identity of the classic
fixture subset through the new structured path.

The reference gets these shapes free from pdfminer/qpdf/tesseract
(/root/reference/Dockerfile:16-32); here each is either extracted or tagged
with a stable error code — never silently garbled.
"""

from __future__ import annotations

import io
import zlib

import pytest

from document_converter_api_spark.extraction.core import extract_document
from document_converter_api_spark.extraction.pdf import (
    PdfEncryptedError, PdfNeedsOcrError, pdf_to_text,
)
from fixtures.genpages import build_minimal_pdf


# ---------------------------------------------------------------------------
# builders for the new shapes
# ---------------------------------------------------------------------------

def _assemble(objs: list[bytes], trailer_extra: bytes = b"",
              xref_stream: bool = False) -> bytes:
    """Serialize numbered objects with either a classic xref table or a
    PDF-1.5 cross-reference stream (type-1 entries, W=[1 4 2])."""
    out = io.BytesIO()
    out.write(b"%PDF-1.5\n" if xref_stream else b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(objs, start=1):
        offsets.append(out.tell())
        out.write(f"{n} 0 obj\n".encode())
        out.write(body)
        out.write(b"\nendobj\n")
    if not xref_stream:
        xref_at = out.tell()
        out.write(f"xref\n0 {len(objs) + 1}\n".encode())
        out.write(b"0000000000 65535 f \n")
        for off in offsets:
            out.write(f"{off:010d} 00000 n \n".encode())
        out.write(b"trailer\n<< /Size " + str(len(objs) + 1).encode()
                  + b" /Root 1 0 R " + trailer_extra + b" >>\n")
        out.write(f"startxref\n{xref_at}\n%%EOF\n".encode())
        return out.getvalue()
    # xref STREAM: one type-1 (offset) entry per object + one for itself
    xref_num = len(objs) + 1
    xref_at = out.tell()
    rows = [b"\x01" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")]
    for off in offsets + [xref_at]:
        rows.append(b"\x01" + off.to_bytes(4, "big") + (0).to_bytes(2, "big"))
    packed = zlib.compress(b"".join(rows), 6)
    out.write(f"{xref_num} 0 obj\n".encode())
    out.write(b"<< /Type /XRef /Size " + str(xref_num + 1).encode()
              + b" /W [1 4 2] /Root 1 0 R " + trailer_extra
              + b" /Filter /FlateDecode /Length "
              + str(len(packed)).encode() + b" >>\nstream\n" + packed
              + b"\nendstream\nendobj\n")
    out.write(f"startxref\n{xref_at}\n%%EOF\n".encode())
    return out.getvalue()


def _simple_page_objs(lines: list[str], compress: bool = False) -> list[bytes]:
    content = ["BT", "/F1 12 Tf", "72 720 Td"]
    for j, line in enumerate(lines):
        if j > 0:
            content.append("0 -14 Td")
        content.append(f"({line}) Tj")
    content.append("ET")
    stream = "\n".join(content).encode("latin-1")
    filt = b""
    if compress:
        stream = zlib.compress(stream, 6)
        filt = b" /Filter /FlateDecode"
    return [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>",
        b"<< /Length " + str(len(stream)).encode() + filt
        + b" >>\nstream\n" + stream + b"\nendstream",
    ]


def build_cid_pdf(text: str, compress_cmap: bool = True) -> bytes:
    """Type0 (Identity-H) font: content strings are 2-byte glyph codes,
    readable only through the /ToUnicode CMap (bfchar for the first two
    distinct chars, bfrange for the rest)."""
    chars = sorted(set(text))
    code_of = {c: 0x0100 + i for i, c in enumerate(chars)}
    hexstr = "".join(f"{code_of[c]:04x}" for c in text)
    content = (f"BT\n/F7 12 Tf\n72 720 Td\n<{hexstr}> Tj\nET"
               .encode("latin-1"))
    bfchars = "".join(
        f"<{code_of[c]:04x}> <{ord(c):04x}>\n" for c in chars[:2])
    bfranges = ""
    if len(chars) > 2:
        # one bfrange per char (arbitrary codepoints aren't contiguous)
        bfranges = "".join(
            f"<{code_of[c]:04x}> <{code_of[c]:04x}> <{ord(c):04x}>\n"
            for c in chars[2:])
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "begincmap\n"
        "1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        f"{len(chars[:2])} beginbfchar\n{bfchars}endbfchar\n"
        + (f"{len(chars) - 2} beginbfrange\n{bfranges}endbfrange\n"
           if bfranges else "")
        + "endcmap\nend\n").encode("latin-1")
    filt = b""
    if compress_cmap:
        cmap = zlib.compress(cmap, 6)
        filt = b" /Filter /FlateDecode"
    return _assemble([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F7 4 0 R >> >> /Contents 6 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-Identity-H "
        b"/Encoding /Identity-H /ToUnicode 5 0 R >>",
        b"<< /Type /CMap /Length " + str(len(cmap)).encode() + filt
        + b" >>\nstream\n" + cmap + b"\nendstream",
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
    ])


def build_image_only_pdf() -> bytes:
    raster = bytes(range(64)) * 4
    content = b"q 100 0 0 100 72 600 cm /Im0 Do Q"
    return _assemble([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /XObject << /Im0 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /XObject /Subtype /Image /Width 16 /Height 16 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length "
        + str(len(raster)).encode() + b" >>\nstream\n" + raster
        + b"\nendstream",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ])


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------

class TestClassicRegression:
    def test_structured_path_matches_fixture_truth(self):
        pages = [["Hello world.", "Second line."], ["Page two text."]]
        pdf = build_minimal_pdf(pages, [False, True])
        want = "".join("\n".join(ls) + "\n\f" for ls in pages)
        assert pdf_to_text(pdf) == want

    def test_escapes_and_hex_strings(self):
        pdf = build_minimal_pdf([["Par (en) th\\eses"]], [False])
        assert pdf_to_text(pdf) == "Par (en) th\\eses\n\f"


class TestTjKerning:
    def test_tj_array_with_kerning_numbers(self):
        """TJ arrays interleave strings with numeric kern adjustments —
        the numbers must be ignored and the strings concatenated in order
        (pdfminer emits them contiguously for ordinary kerning)."""
        content = (b"BT\n/F1 12 Tf\n72 720 Td\n"
                   b"[(Ker) -120 (ned) 80 ( text)] TJ\nET")
        objs = _simple_page_objs(["placeholder"])
        objs[4] = (b"<< /Length " + str(len(content)).encode()
                   + b" >>\nstream\n" + content + b"\nendstream")
        assert pdf_to_text(_assemble(objs)) == "Kerned text\n\f"

    def test_tj_array_hex_and_literal_mix(self):
        content = (b"BT\n/F1 12 Tf\n72 720 Td\n"
                   b"[(AB) <4344> (EF)] TJ\nET")
        objs = _simple_page_objs(["placeholder"])
        objs[4] = (b"<< /Length " + str(len(content)).encode()
                   + b" >>\nstream\n" + content + b"\nendstream")
        assert pdf_to_text(_assemble(objs)) == "ABCDEF\n\f"


class TestXrefStream:
    def test_xref_stream_equals_classic(self):
        """Same page content through a PDF-1.5 cross-reference stream must
        extract byte-identically to the classic-xref file — and the binary
        xref stream must never be tokenized as page text."""
        lines = ["Alpha beta gamma.", "Delta epsilon."]
        classic = _assemble(_simple_page_objs(lines), xref_stream=False)
        xstream = _assemble(_simple_page_objs(lines), xref_stream=True)
        want = "\n".join(lines) + "\n\f"
        assert pdf_to_text(classic) == want
        assert pdf_to_text(xstream) == want

    def test_xref_stream_compressed_content(self):
        lines = ["Flate body under xref stream."]
        pdf = _assemble(_simple_page_objs(lines, compress=True),
                        xref_stream=True)
        assert pdf_to_text(pdf) == lines[0] + "\n\f"


class TestCidToUnicode:
    def test_bfchar_bfrange_roundtrip(self):
        text = "Ünïcode → CID!"
        assert pdf_to_text(build_cid_pdf(text)) == text + "\n\f"

    def test_plain_cmap_stream(self):
        text = "plain cmap"
        assert pdf_to_text(build_cid_pdf(text, compress_cmap=False)) \
            == text + "\n\f"

    def test_mixed_fonts_on_one_page(self):
        """A simple latin-1 font and a CID font in the same content stream:
        each string decodes through the font selected by the last Tf."""
        cid_text = "ab"
        code_of = {c: 0x0200 + i for i, c in enumerate(sorted(set(cid_text)))}
        hexstr = "".join(f"{code_of[c]:04x}" for c in cid_text)
        bf = "".join(f"<{code_of[c]:04x}> <{ord(c):04x}>\n"
                     for c in sorted(set(cid_text)))
        cmap = (f"begincmap\n2 beginbfchar\n{bf}endbfchar\nendcmap\n"
                ).encode()
        content = ("BT\n/F1 12 Tf\n72 720 Td\n(latin ) Tj\n"
                   f"/F7 12 Tf\n<{hexstr}> Tj\nET").encode("latin-1")
        pdf = _assemble([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /Font << /F1 4 0 R /F7 5 0 R >> >> "
            b"/Contents 7 0 R >>",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
            b"/ToUnicode 6 0 R >>",
            b"<< /Type /CMap /Length " + str(len(cmap)).encode()
            + b" >>\nstream\n" + cmap + b"\nendstream",
            b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream",
        ])
        assert pdf_to_text(pdf) == "latin ab\n\f"


class TestDegradationTags:
    def test_image_only_page_tags_needs_ocr(self):
        pdf = build_image_only_pdf()
        with pytest.raises(PdfNeedsOcrError):
            pdf_to_text(pdf)
        res = extract_document(pdf, "https://x.example/scan.pdf")
        assert res.markdown is None
        assert res.error == "needs_ocr"

    def test_encrypted_trailer_tags_encrypted(self):
        pdf = _assemble(_simple_page_objs(["secret"]),
                        trailer_extra=b"/Encrypt 9 0 R")
        with pytest.raises(PdfEncryptedError):
            pdf_to_text(pdf)
        res = extract_document(pdf, "https://x.example/locked.pdf")
        assert res.error == "encrypted"

    def test_encrypted_xref_stream_dict(self):
        pdf = _assemble(_simple_page_objs(["secret"]),
                        trailer_extra=b"/Encrypt 9 0 R", xref_stream=True)
        res = extract_document(pdf, "https://x.example/locked15.pdf")
        assert res.error == "encrypted"

    def test_text_page_with_images_still_extracts(self):
        """needs_ocr fires only when there is NO text anywhere — a normal
        page that also embeds an image keeps its extracted text."""
        raster = b"\x00" * 64
        objs = _simple_page_objs(["Mixed media page."])
        objs[3] = (b"<< /Type /Page /Parent 2 0 R "
                   b"/Resources << /Font << /F1 3 0 R >> "
                   b"/XObject << /Im0 6 0 R >> >> /Contents 5 0 R >>")
        objs.append(b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
                    b"/Length " + str(len(raster)).encode()
                    + b" >>\nstream\n" + raster + b"\nendstream")
        pdf = _assemble(objs)
        assert pdf_to_text(pdf) == "Mixed media page.\n\f"


# ---------------------------------------------------------------------------
# Standard-handler encryption (empty user password) — round 3
# ---------------------------------------------------------------------------

def build_encrypted_pdf(lines: list[str], v: int, r: int, length_bits: int,
                        aes: bool, user_pw: bytes = b"",
                        owner_pw: bytes = b"owner-secret",
                        xref_stream: bool = False,
                        id0: bytes = bytes(range(16)),
                        id_literal: bool = False,
                        cf_first: bool = False,
                        p_unsigned: bool = False,
                        enc_dict_prefix: bytes = b"",
                        em_false_sep: bytes | None = None) -> bytes:
    """Owner-password-restricted PDF whose USER password is ``user_pw``:
    real Standard-handler crypto (Algorithms 2/3/4/5 + per-object keys),
    streams encrypted, /O //U //ID entries genuine — the decryptor must
    do the actual key derivation to read it.

    Producer-variant knobs (each a real-world shape from the round-3
    review): ``id_literal`` writes /ID as literal strings instead of hex;
    ``cf_first`` orders the /CF sub-dict BEFORE the top-level /Length;
    ``p_unsigned`` writes /P as the unsigned 32-bit value; a non-empty
    ``enc_dict_prefix`` injects an extra entry ahead of /V (e.g. a literal
    string containing decoy tokens); ``em_false_sep`` adds
    '/EncryptMetadata<sep>false' (key derivation then salts per §7.6.3.3,
    R≥4 only)."""
    from document_converter_api_spark.extraction.pdf_crypt import (
        StandardDecryptor, compute_key, compute_o, compute_o_oe_r6,
        compute_perms_r6, compute_u, compute_u_ue_r6,
    )
    p = -44
    ue = oe = perms = None
    if v == 5:
        # AESV3: random-in-production values pinned for determinism
        file_key = bytes(range(200, 232))
        u, ue = compute_u_ue_r6(user_pw, file_key, b"VSALT--u", b"KSALT--u",
                                r)
        o, oe = compute_o_oe_r6(owner_pw, file_key, u, b"VSALT--o",
                                b"KSALT--o", r)
        perms = compute_perms_r6(p, em_false_sep is None, file_key,
                                 rand4=b"rnd4")
        enc = StandardDecryptor(file_key, aes=True, v5=True)
    else:
        nbytes = length_bits // 8
        o = compute_o(owner_pw, user_pw, r, nbytes)
        key = compute_key(o, p, id0, r, nbytes, password=user_pw,
                          encrypt_metadata=em_false_sep is None)
        u = compute_u(key, id0, r)
        enc = StandardDecryptor(key, aes)

    content = ["BT", "/F1 12 Tf", "72 720 Td"]
    for j, line in enumerate(lines):
        if j > 0:
            content.append("0 -14 Td")
        content.append(f"({line}) Tj")
    content.append("ET")
    stream = enc.encrypt(5, 0, "\n".join(content).encode("latin-1"),
                         iv=bytes(range(16, 32)))

    if v == 5:
        filt = (b"/V 5 /R " + str(r).encode() + b" /Length 256 "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/StmF /StdCF /StrF /StdCF")
    elif v == 4:
        cf = (b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >>" if aes else
              b"/CF << /StdCF << /CFM /V2 /Length 16 >> >>")
        length_entry = b"/Length " + str(length_bits).encode()
        parts = ([cf, length_entry] if cf_first else [length_entry, cf])
        filt = (b"/V 4 /R 4 " + parts[0] + b" " + parts[1]
                + b" /StmF /StdCF /StrF /StdCF")
    elif v == 2:
        filt = b"/V 2 /R 3 /Length " + str(length_bits).encode()
    else:
        filt = b"/V 1 /R 2"
    p_txt = str(p & 0xFFFFFFFF if p_unsigned else p).encode()
    em = (b" /EncryptMetadata" + em_false_sep + b"false"
          if em_false_sep is not None else b"")
    extra = b""
    if v == 5:
        extra = (b" /UE <" + ue.hex().encode() + b">"
                 + b" /OE <" + oe.hex().encode() + b">"
                 + b" /Perms <" + perms.hex().encode() + b">")
    enc_obj = (b"<< /Filter /Standard " + enc_dict_prefix + filt
               + b" /O <" + o.hex().encode() + b">"
               + b" /U <" + u.hex().encode() + b">"
               + extra
               + em
               + b" /P " + p_txt + b" >>")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>",
        b"<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream",
        enc_obj,
    ]
    if id_literal:
        id_txt = b"(" + id0 + b") (" + id0 + b")"  # caller picks safe bytes
    else:
        hx = id0.hex().encode()
        id_txt = b"<" + hx + b"> <" + hx + b">"
    trailer = b"/Encrypt 6 0 R /ID [" + id_txt + b"]"
    return _assemble(objs, trailer_extra=trailer, xref_stream=xref_stream)


class TestEncryptedDecryption:
    """RC4-40 / RC4-128 / AES-128 files with an empty user password (the
    owner-restriction case the reference reads via qpdf) now extract;
    genuinely passworded and AES-256 files keep the ``encrypted`` tag."""

    WANT = "Decrypted line one.\nAnd line two.\n\f"
    LINES = ["Decrypted line one.", "And line two."]

    def test_rc4_40_v1_r2(self):
        pdf = build_encrypted_pdf(self.LINES, v=1, r=2, length_bits=40,
                                  aes=False)
        assert pdf_to_text(pdf) == self.WANT

    def test_rc4_128_v2_r3(self):
        pdf = build_encrypted_pdf(self.LINES, v=2, r=3, length_bits=128,
                                  aes=False)
        assert pdf_to_text(pdf) == self.WANT

    def test_aes128_v4_r4(self):
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_rc4_128_v4_r4_crypt_filter(self):
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=False)
        assert pdf_to_text(pdf) == self.WANT

    def test_xref_stream_layout_also_decrypts(self):
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True, xref_stream=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_extract_document_end_to_end(self):
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True)
        res = extract_document(pdf, "https://x.example/restricted.pdf")
        assert res.error is None
        assert "Decrypted line one." in res.markdown

    def test_real_user_password_still_tagged_encrypted(self):
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True, user_pw=b"hunter2")
        with pytest.raises(PdfEncryptedError, match="password"):
            pdf_to_text(pdf)
        res = extract_document(pdf, "https://x.example/pw.pdf")
        assert res.error == "encrypted"

    def test_aes256_v5_r6(self):
        """ISO 32000-2 AES-256 with Algorithm 2.B key derivation —
        the empty-user-password case now extracts (round-3 verdict
        item 5; the reference reads these via qpdf)."""
        pdf = build_encrypted_pdf(self.LINES, v=5, r=6, length_bits=256,
                                  aes=True)
        assert pdf_to_text(pdf) == self.WANT
        res = extract_document(pdf, "https://x.example/r6.pdf")
        assert res.error is None
        assert "Decrypted line one." in res.markdown

    def test_aes256_v5_r5_adobe_variant(self):
        """The deprecated Adobe R=5 single-SHA-256 derivation."""
        pdf = build_encrypted_pdf(self.LINES, v=5, r=5, length_bits=256,
                                  aes=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_aes256_v5_r6_xref_stream(self):
        pdf = build_encrypted_pdf(self.LINES, v=5, r=6, length_bits=256,
                                  aes=True, xref_stream=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_aes256_v5_r6_real_password_still_tagged(self):
        pdf = build_encrypted_pdf(self.LINES, v=5, r=6, length_bits=256,
                                  aes=True, user_pw=b"hunter2")
        with pytest.raises(PdfEncryptedError, match="password"):
            pdf_to_text(pdf)
        res = extract_document(pdf, "https://x.example/pw-r6.pdf")
        assert res.error == "encrypted"

    def test_aes256_v5_missing_ue_tagged_encrypted(self):
        pdf = build_encrypted_pdf(self.LINES, v=5, r=6, length_bits=256,
                                  aes=True)
        i = pdf.find(b" /UE <")
        j = pdf.find(b">", i) + 1
        with pytest.raises(PdfEncryptedError, match="UE"):
            pdf_to_text(pdf[:i] + pdf[j:])

    def test_aes256_v5_r7_unsupported(self):
        pdf = build_encrypted_pdf(self.LINES, v=5, r=6, length_bits=256,
                                  aes=True)
        pdf = pdf.replace(b"/V 5 /R 6", b"/V 5 /R 7")
        with pytest.raises(PdfEncryptedError, match="unsupported"):
            pdf_to_text(pdf)

    def test_cf_subdict_before_top_level_length(self):
        """Dict key order is arbitrary: the /CF sub-dict's '/Length 16'
        (bytes) must not shadow the top-level '/Length 128' (bits)."""
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True, cf_first=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_unsigned_permissions_flag(self):
        """Some producers write /P as the unsigned 32-bit value
        (4294967252 == -44): same key bytes, must decrypt."""
        pdf = build_encrypted_pdf(self.LINES, v=2, r=3, length_bits=128,
                                  aes=False, p_unsigned=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_literal_string_id(self):
        """/ID written as literal strings '(...)' instead of hex."""
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True, id0=b"ABCDEFGHIJKLMNOP",
                                  id_literal=True)
        assert pdf_to_text(pdf) == self.WANT

    def test_odd_length_id_hex_degrades_to_encrypted_tag(self):
        """A truncated /ID hex string must surface as the stable
        ``encrypted`` tag (wrong key → verification fails), never an
        uncaught ValueError from bytes.fromhex."""
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True)
        hx = bytes(range(16)).hex().encode()
        broken = pdf.replace(b"/ID [<" + hx + b">", b"/ID [<" + hx[:31] + b">", 1)
        assert broken != pdf
        with pytest.raises(PdfEncryptedError):
            pdf_to_text(broken)

    def test_decoy_tokens_inside_string_entry_ignored(self):
        """A literal-string entry containing '/V 9 /R 9 /Length 16' decoy
        tokens ahead of the real /V must not corrupt version parsing."""
        pdf = build_encrypted_pdf(
            self.LINES, v=2, r=3, length_bits=128, aes=False,
            enc_dict_prefix=b"/DummyInfo (/V 9 /R 9 /Length 16 /P 1) ")
        assert pdf_to_text(pdf) == self.WANT

    def test_encrypt_metadata_false_with_newline_separator(self):
        """'/EncryptMetadata\\nfalse' (any PDF whitespace is legal) must
        apply the §7.6.3.3 salt — a space-only substring match misses it
        and derives the wrong key."""
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True, em_false_sep=b"\n")
        assert pdf_to_text(pdf) == self.WANT

    def test_corrupted_ciphertext_degrades_not_garbles(self):
        """A truncated AES body must yield empty/absent text, never noise."""
        pdf = build_encrypted_pdf(self.LINES, v=4, r=4, length_bits=128,
                                  aes=True)
        broken = pdf.replace(b"stream\n", b"stream\nXXXXXXXXX", 1)
        try:
            out = pdf_to_text(broken)
            assert "Decrypted" not in out
        except (PdfEncryptedError, PdfNeedsOcrError, ValueError):
            pass


def _words(block: bytes) -> tuple[int, ...]:
    return tuple(int.from_bytes(block[i:i + 4], "big") for i in (0, 4, 8, 12))


class TestAesPrimitives:
    """Known-answer vectors pin the cipher core both widths: the word-space
    encrypt that key derivation runs, and the byte-space block decrypt."""

    def test_fips197_c1_aes128(self):
        from document_converter_api_spark.extraction.pdf_crypt import (
            _aes_decrypt_block, _aes_encrypt_words, _expand_key,
            _words_of_rks,
        )
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
        rks = _expand_key(key)
        assert _aes_encrypt_words(_words_of_rks(rks), *_words(pt)) == \
            _words(ct)
        assert _aes_decrypt_block(rks, ct) == pt

    def test_fips197_c3_aes256(self):
        from document_converter_api_spark.extraction.pdf_crypt import (
            _aes_decrypt_block, _aes_encrypt_words, _expand_key,
            _words_of_rks,
        )
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                            "101112131415161718191a1b1c1d1e1f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
        rks = _expand_key(key)
        assert len(rks) == 15
        assert _aes_encrypt_words(_words_of_rks(rks), *_words(pt)) == \
            _words(ct)
        assert _aes_decrypt_block(rks, ct) == pt

    def test_u_ue_roundtrip_and_wrong_password(self):
        from document_converter_api_spark.extraction.pdf_crypt import (
            compute_key_r6, compute_u_ue_r6, verify_user_password_r6,
        )
        fk = bytes(range(32))
        for r in (5, 6):
            u, ue = compute_u_ue_r6(b"", fk, b"ssssssss", b"kkkkkkkk", r)
            assert len(u) == 48 and len(ue) == 32
            assert verify_user_password_r6(u, r, password=b"")
            assert not verify_user_password_r6(u, r, password=b"x")
            assert compute_key_r6(u, ue, r, password=b"") == fk

    def test_hash_2b_differs_from_plain_sha256(self):
        """R6's Algorithm 2.B must NOT collapse to the R5 shortcut."""
        import hashlib

        from document_converter_api_spark.extraction.pdf_crypt import (
            hash_2b,
        )
        out = hash_2b(b"pw", b"saltsalt")
        assert len(out) == 32
        assert out != hashlib.sha256(b"pw" + b"saltsalt").digest()
        # deterministic
        assert out == hash_2b(b"pw", b"saltsalt")


# ---------------------------------------------------------------------------
# reading-order contract (round-4 verdict item 8)
# ---------------------------------------------------------------------------

def build_two_column_pdf() -> bytes:
    """A page whose CONTENT-STREAM order differs from visual order: the
    RIGHT column (x=306) is emitted first, the LEFT column (x=72)
    second, both starting at the same y. pdfminer-style layout analysis
    (y-then-x) would interleave or reorder them left-first; stream
    order keeps right-column text first."""
    content = ("BT /F1 12 Tf 1 0 0 1 306 720 Tm (R1 right top) Tj "
               "0 -14 Td (R2 right bottom) Tj ET\n"
               "BT /F1 12 Tf 1 0 0 1 72 720 Tm (L1 left top) Tj "
               "0 -14 Td (L2 left bottom) Tj ET").encode("latin-1")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>",
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
    ]
    return _assemble(objs)


def test_reading_order_contract_is_stream_order():
    """PINNED CONTRACT: text is emitted in CONTENT-STREAM OPERATOR
    ORDER, not layout (y-then-x) order. Divergence from pdfminer
    (MarkItDown's engine, which runs layout analysis) is deliberate and
    documented in extraction/pdf.py: stream order is deterministic,
    single-pass, and coordinate-free; for the overwhelming
    single-column case the two agree (the golden corpus pins that), and
    a two-column page whose stream emits right-column-first surfaces
    here exactly as the contract says — right column text before left.
    If this test ever needs to flip to y-then-x, the goldens must be
    regenerated deliberately in the same change."""
    text = pdf_to_text(build_two_column_pdf())
    assert text == ("R1 right top\nR2 right bottom\n"
                    "L1 left top\nL2 left bottom\n\f")
    # layout order would have put a left-column line first
    assert text.startswith("R1"), "stream-order contract violated"
