"""WordReader parity vs the reference's own fixtures and test
assertions (/root/reference/test/testWordReader.py): content-based
filetype detection, docx -> word/document.xml with the expected root
tag and text, mislabeled .doc resolving to docx, and NATIVE legacy
.doc extraction (stdlib CFB + Word97 piece table, docbinary.py) —
the same root tag ("book") and marker sentence the reference's
antiword path asserts on (testWordReader.py:41-44), with no external
binary."""

import glob
import os
import unicodedata
import xml.etree.ElementTree as ET

import pytest

from ferenda_spark.wordreader import (ExternalToolMissing, W_NS,
                                      detect_wordfile_type, docx_text,
                                      read_word)

FIXDIR = "/root/reference/test/files/wordreader"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXDIR), reason="reference fixtures not present")


def _data(name):
    return open(os.path.join(FIXDIR, name), "rb").read()


def test_docx_root_and_text():
    """testWordReader.test_docx: root element is w:document and the
    marker sentence is present."""
    kind, xml_bytes = read_word(_data("sample.docx"))
    assert kind == "docx"
    root = ET.fromstring(xml_bytes)
    assert root.tag == "{%s}document" % W_NS
    assert ("simple document in OOXML (.docx) format"
            in docx_text(_data("sample.docx")))


def test_mislabeled_doc_detected_as_docx():
    """testWordReader.test_mislabeled: a .docx mislabeled as .doc is
    detected by content."""
    data = _data("mislabeled.doc")
    assert detect_wordfile_type(data) == "docx"
    kind, _ = read_word(data)
    assert kind == "docx"
    assert "mis-labeled as a .doc file" in docx_text(data)


def test_legacy_doc_native_extraction_golden():
    """testWordReader.test_doc's assertions, natively: filetype 'doc',
    docbook root 'book', and the exact marker sentence the reference's
    xpath asserts on — including the spaces-in-filename twin."""
    for name in ("sample.doc", "spaces in filename.doc"):
        data = _data(name)
        assert detect_wordfile_type(data) == "doc"
        kind, xml_bytes = read_word(data)
        assert kind == "doc"
        root = ET.fromstring(xml_bytes)
        assert root.tag == "book"
        texts = [t for t in root.itertext()]
        assert any("simple document in .doc format" in t for t in texts)


def test_legacy_doc_real_world_fixtures():
    """Every real OLE .doc in the reference's dv corpus extracts
    non-trivial text with correct Swedish characters (UTF-16 pieces +
    cp1252 pieces both exercised across these files)."""
    from ferenda_spark.docbinary import doc_text
    found = 0
    for f in glob.glob("/root/reference/test/files/repo/dv/"
                       "downloaded/*/*.doc"):
        data = open(f, "rb").read()
        if data[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
            continue                      # git-annex pointers / dummies
        found += 1
        text = doc_text(data)
        assert len(text) > 1000
        assert "Högsta domstolen" in text
        base = unicodedata.normalize(
            "NFC", os.path.basename(f)).rsplit(".", 1)[0].split("_")[0]
        assert base in text               # case number appears in body
    assert found >= 3, "expected the three real HDO .doc fixtures"


def test_synth_doc_blob_roundtrip():
    """The closed-form Word97 generator round-trips through the real
    parser — piece table, compressed text, paragraph marks."""
    from ferenda_spark.docbinary import doc_text, synth_doc_blob
    blob = synth_doc_blob(["Word doc 17", "Paragraph 3"])
    assert detect_wordfile_type(blob) == "doc"
    assert doc_text(blob) == "Word doc 17\nParagraph 3"


def test_field_codes_dropped_results_kept():
    """Word field characters: the code between 0x13 and 0x14 is
    machinery (e.g. ' HYPERLINK ... '), the result between 0x14 and
    0x15 is the visible text."""
    from ferenda_spark.docbinary import _clean
    raw = "see \x13 HYPERLINK http://x \x14the law\x15 here"
    assert _clean(raw) == "see the law here"


def test_docx_breaks_and_tabs_separate_text():
    """w:br/w:tab contribute at their document position — text around
    a break must not run together."""
    from ferenda_spark.wordreader import W_NS, docx_xml_text
    xml = ("""<w:document xmlns:w="%s"><w:body><w:p>
        <w:r><w:t>Line one</w:t></w:r><w:r><w:br/></w:r>
        <w:r><w:t>Line two</w:t><w:tab/><w:t>after tab</w:t></w:r>
        </w:p></w:body></w:document>""" % W_NS).encode()
    text = docx_xml_text(xml)
    assert "Line one\nLine two after tab" == text


def test_spark_word_stage_extracts_and_quarantines(request):
    """extract_word_blobs: docx rows yield text, real .doc rows yield
    NATIVELY extracted text, truncated OLE is quarantined, garbage is
    flagged — one map_rows stage."""
    from ferenda_spark.session import get_spark
    from ferenda_spark.wordreader import OLE_MAGIC, extract_word_blobs
    spark = get_spark(app="wordreader-tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    rows = [("u:docx", bytearray(_data("sample.docx"))),
            ("u:mislabeled", bytearray(_data("mislabeled.doc"))),
            ("u:doc", bytearray(_data("sample.doc"))),
            ("u:badole", bytearray(OLE_MAGIC + b"\x00" * 24)),
            ("u:junk", bytearray(b"not a word file"))]
    docs = spark.createDataFrame(rows, "url string, blob binary")
    got = {r.url: (r.filetype, r.text, r.error)
           for r in extract_word_blobs(docs).collect()}
    assert got["u:docx"][0] == "docx" and got["u:docx"][2] is None
    assert got["u:mislabeled"][0] == "docx"
    assert got["u:doc"][0] == "doc" and got["u:doc"][2] is None
    assert "simple document in .doc format" in got["u:doc"][1]
    assert got["u:badole"] == ("doc", None, "unparseable word binary")
    assert got["u:junk"][0] == "unknown"
