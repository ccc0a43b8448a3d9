"""Stdlib PDF text-extraction kernel (pdftext) goldens against the
reference's cached poppler intermediates (test/files/pdfreader/
intermediate/*.xml) — the end-to-end PDF->text path the reference gets
from pdftohtml (pdfreader.py:90-455).

Parity levels, per the bounded-kernel scope (pdftext module
docstring):

* sample.pdf — per-LINE text equality in reading order (whitespace
  runs normalized: poppler renders the fixture's 4-char ToUnicode
  target <0009 000d 0020 00a0> with its own whitespace folding);
* custom-encoding.pdf (11 pages, LZW streams) — per-PAGE character
  stream equality with whitespace/control glyphs removed: poppler
  splits boxes on x-gaps using glyph-width metrics this kernel
  deliberately does not model, and both extractors emit identical
  code-garbage for the non-ToUnicode custom-encoded fonts (poppler's
  own cached output reads "PHOODQ.RQXQJDULNHW..."), so character
  stream is the strongest meaningful target.
* remaining pdfreader fixtures are 19-byte git-annex pointer files in
  this checkout (multiple-encodings.pdf, prop_1997_98_44.pdf,
  links.pdf, linked-footnote.pdf) — unfetchable here, pinned;
  scanned*.pdf have no text layer (the reference OCRs them).
"""

import os
import re

import pytest

from ferenda_spark.pdfpages import parse_pdf2xml
from ferenda_spark.pdftext import (extract_text_pages, pdf_to_pdf2xml,
                                   synth_pdf_blobs)

FIX = "/root/reference/test/files/pdfreader"

# the golden tests read the reference's fixtures; the synthetic-PDF
# tests below them run everywhere
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIX), reason="reference fixtures not present")


def _read(name):
    return open("%s/%s.pdf" % (FIX, name), "rb").read()


def _fixture_pages(name):
    return parse_pdf2xml(
        open("%s/intermediate/%s.xml" % (FIX, name)).read())


def _norm_ws(s):
    return re.sub(r"[\s\xa0]+", " ", s).strip()


def _squash(s):
    return re.sub(r"[\x00-\x20\x7f-\xa0]+", "", s)


@needs_fixtures
def test_sample_pdf_line_text_golden():
    pages = extract_text_pages(_read("sample"))
    mine = [_norm_ws(ln["text"]) for p in pages for ln in p["lines"]]
    mine = [t for t in mine if t]
    want = [_norm_ws(str(b)) for fp in _fixture_pages("sample")
            for b in fp]
    want = [t for t in want if t]
    assert mine == want
    assert "Document title" in mine[0]


@needs_fixtures
def test_custom_encoding_pdf_page_charstream_golden():
    """11 LZW-compressed pages; every page's character stream equals
    poppler's cached output (including the custom-encoding mojibake
    both extractors produce — see module docstring)."""
    pages = extract_text_pages(_read("custom-encoding"),
                               sort_lines=False)
    fixture = _fixture_pages("custom-encoding")
    assert len(pages) == len(fixture) == 11
    for p, fp in zip(pages, fixture):
        mine = _squash("".join(ln["text"] for ln in p["lines"]))
        want = _squash("".join(str(b) for b in fp))
        assert mine == want, "page %d" % p["number"]


@needs_fixtures
def test_custom_encoding_readable_fonts_decode():
    """The standard-font (Times-Roman) lines decode to real Swedish
    text, not codes."""
    pages = extract_text_pages(_read("custom-encoding"))
    text = " ".join(ln["text"] for p in pages for ln in p["lines"])
    assert "Regeringens proposition" in text
    assert "dubbelbeskattningsavtal mellan de nordiska" in text


def _xml_geometry(name):
    """(page, top, left, width, height, fontsize, text) rows from a
    cached poppler intermediate, in file order."""
    rows = []
    fontspecs = {}
    pageno = 0
    for m in re.finditer(
            r'<page number="(\d+)"[^>]*>'
            r'|<text top="(-?\d+)" left="(-?\d+)" width="(-?\d+)"'
            r' height="(-?\d+)" font="(\d+)">(.*?)</text>'
            r'|<fontspec id="(\d+)" size="(-?\d+)"',
            open("%s/intermediate/%s.xml" % (FIX, name)).read(), re.S):
        if m.group(1):
            pageno = int(m.group(1))
        elif m.group(2):
            txt = re.sub(r"<[^>]+>", "", m.group(7))
            rows.append((pageno, int(m.group(2)), int(m.group(3)),
                         int(m.group(4)), int(m.group(5)),
                         fontspecs[int(m.group(6))], txt))
        else:
            fontspecs[int(m.group(8))] = int(m.group(9))
    return rows


def _blankish(t):
    return not t.strip("\t\r\n \xa0\x00\x01\x02\x03")


def _geometry_rows(name):
    pages = extract_text_pages(_read(name), sort_lines=False)
    return [(p["number"], ln["top"], ln["left"], ln["width"],
             ln["height"], ln["fontsize"], ln["text"])
            for p in pages for ln in p["lines"]]


@needs_fixtures
def test_sample_pdf_geometry_golden():
    """Full box-geometry parity with poppler's cached intermediate:
    every non-blank <text> element's top/left/width/height and its
    fontspec size are integer-equal, in the same order."""
    mine = [r for r in _geometry_rows("sample") if not _blankish(r[6])]
    want = [r for r in _xml_geometry("sample") if not _blankish(r[6])]
    assert [r[:6] for r in mine] == [r[:6] for r in want]


@needs_fixtures
def test_custom_encoding_pdf_geometry_golden():
    """292/294 boxes integer-equal across the 11 LZW pages; the two
    residues are widths off by 1px (sub-pixel straddles of poppler's
    builtin-font metric rounding), pinned here exactly."""
    mine = [r for r in _geometry_rows("custom-encoding")
            if not _blankish(r[6])]
    want = [r for r in _xml_geometry("custom-encoding")
            if not _blankish(r[6])]
    assert len(mine) == len(want) == 294
    diffs = [(a, b) for a, b in zip(mine, want) if a[:6] != b[:6]]
    assert len(diffs) == 2
    for a, b in diffs:
        # same box, width differs by exactly 1 device pixel
        assert (a[0], a[1], a[2], a[4], a[5]) == \
               (b[0], b[1], b[2], b[4], b[5])
        assert abs(a[3] - b[3]) == 1


@needs_fixtures
def test_scanned_pdfs_yield_no_text_quietly():
    """Image-only PDFs (the reference OCRs these — out of scope here,
    input table is html) must parse to pages with zero text lines,
    not raise: the Spark stage then emits no rows instead of a
    quarantine row."""
    for name in ("scanned", "scanned-ecma-99"):
        pages = extract_text_pages(_read(name))
        assert len(pages) == 2
        assert sum(len(p["lines"]) for p in pages) == 0


@needs_fixtures
def test_pdf2xml_roundtrip_through_model():
    """pdf_to_pdf2xml output feeds the existing pdfpages model: same
    text content survives the round trip."""
    data = _read("sample")
    direct = [_norm_ws(ln["text"])
              for p in extract_text_pages(data) for p_l in [p]
              for ln in p["lines"] if _norm_ws(ln["text"])]
    again = [_norm_ws(str(b))
             for page in parse_pdf2xml(pdf_to_pdf2xml(data))
             for b in page if _norm_ws(str(b))]
    assert direct == again


def test_synth_pdf_extracts_closed_form():
    """The synthetic-blob shape and the kernel agree on the planted
    two-line document (the driver-query invariant)."""
    content = "BT /F1 12 Tf 72 720 Td (Line one 7) Tj 0 -20 Td (Second 7) Tj ET"
    body = ("%%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 "
            "/MediaBox [0 0 612 792] >> endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Resources "
            "<< /Font << /F1 4 0 R >> >> /Contents 5 0 R >> endobj\n"
            "4 0 obj << /Type /Font /Subtype /Type1 "
            "/BaseFont /Helvetica >> endobj\n"
            "5 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
            "trailer << /Root 1 0 R >>\n%%%%EOF\n" % (len(content),
                                                      content))
    pages = extract_text_pages(body.encode("latin-1"))
    assert len(pages) == 1
    lines = pages[0]["lines"]
    # geometry is poppler-parity math: top = y_dev - ascent*size_dev
    # (Helvetica AFM ascent 0.718), width = AFM advance sum, height =
    # (ascent - descent) * size_dev, all xoutRound'ed
    assert [(ln["text"], ln["top"], ln["left"], ln["width"],
             ln["height"], ln["size"], ln["font"]) for ln in lines] == [
        ("Line one 7", 95, 108, 84, 17, 18, "Helvetica"),
        ("Second 7", 125, 108, 76, 17, 18, "Helvetica")]


def test_objstm_compressed_objects():
    """PDF 1.5 layout: catalog/pages/page/font dicts live inside a
    /Type /ObjStm compressed stream; only the content stream is a
    classic object.  The lazy ObjStm index must resolve them."""
    import zlib
    bodies = [
        "<< /Type /Catalog /Pages 2 0 R >>",
        ("<< /Type /Pages /Kids [3 0 R] /Count 1 "
         "/MediaBox [0 0 612 792] >>"),
        ("<< /Type /Page /Parent 2 0 R /Resources "
         "<< /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"),
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    payload_body = " ".join(bodies)
    head = []
    off = 0
    for i, b in enumerate(bodies, 1):
        head.append("%d %d" % (i, off))
        off += len(b) + 1
    header = " ".join(head) + " "
    payload = (header + payload_body).encode("latin-1")
    compressed = zlib.compress(payload)
    content = "BT /F1 12 Tf 72 720 Td (ObjStm works) Tj ET"
    pdf = (
        b"%PDF-1.5\n"
        + ("6 0 obj << /Type /ObjStm /N 4 /First %d /Length %d "
           "/Filter /FlateDecode >> stream\n"
           % (len(header), len(compressed))).encode()
        + compressed
        + b"\nendstream endobj\n"
        + ("5 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
           % (len(content), content)).encode()
        + b"trailer << /Root 1 0 R >>\n%%EOF\n")
    pages = extract_text_pages(pdf)
    assert len(pages) == 1
    assert [ln["text"] for ln in pages[0]["lines"]] == ["ObjStm works"]


def test_tj_kerning_word_gap_becomes_space():
    """TJ displacements beyond -100/1000 em encode inter-word gaps
    (no space glyph in the stream); smaller kerning tweaks must not."""
    content = ("BT /F1 12 Tf 72 720 Td "
               "[ (Hel) -20 (lo) -350 (world) ] TJ ET")
    body = ("%%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 "
            "/MediaBox [0 0 612 792] >> endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Resources "
            "<< /Font << /F1 4 0 R >> >> /Contents 5 0 R >> endobj\n"
            "4 0 obj << /Type /Font /Subtype /Type1 "
            "/BaseFont /Helvetica >> endobj\n"
            "5 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
            "trailer << /Root 1 0 R >>\n%%%%EOF\n" % (len(content),
                                                      content))
    pages = extract_text_pages(body.encode("latin-1"))
    assert [ln["text"] for ln in pages[0]["lines"]] == ["Hello world"]
