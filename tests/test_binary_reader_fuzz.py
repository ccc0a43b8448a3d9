"""Property tests (hypothesis, no Spark session) for the per-row kernels
of the binary readers: arbitrary bytes and truncations of valid seed
blobs never raise.  The header readers answer ``None`` (their row drops);
the quarantining readers (pdftext, wordreader) return their quarantine
row instead of raising, so one bad blob can never fail a job."""

import io
import struct
import zipfile

from hypothesis import given, settings
from hypothesis import strategies as st

from ferenda_spark.docbinary import synth_doc_blob
from ferenda_spark.operators.multimodal import (
    GRAY_MAGIC, decode_bytes, exif_meta_bytes, gray_dhash_bytes,
    mp4_meta_bytes, wav_meta_bytes, webm_meta_bytes)
from ferenda_spark.pdftext import _one_page_pdf, _pdf_lines_row
from ferenda_spark.wordreader import W_NS, _word_row


def _box(typ, body=b""):
    return struct.pack(">I4s", 8 + len(body), typ) + body


def _docx(paragraphs):
    body = "".join("<w:p><w:r><w:t>%s</w:t></w:r></w:p>" % p
                   for p in paragraphs)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("word/document.xml",
                    '<w:document xmlns:w="%s"><w:body>%s</w:body>'
                    '</w:document>' % (W_NS, body))
    return buf.getvalue()


_WAV_FMT = (b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16))
_TIFF = (b"II" + struct.pack("<HIH", 42, 8, 2)
         + struct.pack("<HHII", 0x0100, 4, 1, 640)
         + struct.pack("<HHII", 0x0101, 4, 1, 480) + struct.pack("<I", 0))
_EXIF = b"Exif\x00\x00" + _TIFF
_WEBM_INFO = (bytes.fromhex("2ad7b1") + b"\x84" + struct.pack(">I", 1000000)
              + bytes.fromhex("4489") + b"\x88" + struct.pack(">d", 2500.0))

SEEDS = [
    b"RIFF" + struct.pack("<I", 4 + len(_WAV_FMT) + 48) + b"WAVE"
    + _WAV_FMT + b"data" + struct.pack("<I", 40) + b"\x00" * 40,
    GRAY_MAGIC + bytes([9, 7]) + bytes(range(63)),
    b"\xff\xd8\xff\xe1" + struct.pack(">H", len(_EXIF) + 2) + _EXIF
    + b"\xff\xd9",
    _box(b"ftyp", b"isom\x00\x00\x00\x00") + _box(b"moov", _box(
        b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 5000))
        + _box(b"trak", _box(b"tkhd", b"\x00" * 76
                             + struct.pack(">II", 640 << 16, 480 << 16)))),
    bytes.fromhex("1a45dfa3") + b"\x80" + bytes.fromhex("18538067") + b"\xff"
    + bytes.fromhex("1549a966") + bytes([0x80 | len(_WEBM_INFO)])
    + _WEBM_INFO,
    _one_page_pdf("BT /F1 12 Tf 72 720 Td (Line one 7) Tj "
                  "0 -20 Td (Second 7) Tj ET"),
    synth_doc_blob(["Word doc 7", "Paragraph 0"]),
    _docx(["Word doc 7", "Paragraph 0"]),
]

# arbitrary bytes, or a valid seed cut at an arbitrary point
blobs = st.one_of(
    st.binary(max_size=600),
    st.tuples(st.sampled_from(SEEDS), st.integers(min_value=0))
    .map(lambda t: t[0][:t[1] % (len(t[0]) + 1)]))

_SETTINGS = dict(max_examples=1000, deadline=None)


def test_seeds_decode():
    """The seeds are valid, so truncating them walks real parse paths."""
    wav, gray, exif, mp4, webm, pdf, doc, docx = SEEDS
    assert wav_meta_bytes(wav)["channels"] == 2
    assert gray_dhash_bytes(gray) is not None
    assert exif_meta_bytes(exif)["width"] == 640
    assert (mp4_meta_bytes(mp4)["duration_ms"],
            mp4_meta_bytes(mp4)["width"]) == (5000, 640)
    assert webm_meta_bytes(webm)["duration_ms"] == 2500
    assert [r[9] for r in _pdf_lines_row("u", pdf)] == [
        "Line one 7", "Second 7"]
    assert list(_word_row("u", doc))[0][1:] == (
        "doc", "Word doc 7\nParagraph 0", None)
    assert list(_word_row("u", docx))[0][1:] == (
        "docx", "Word doc 7\nParagraph 0", None)


@settings(**_SETTINGS)
@given(blobs)
def test_header_readers_never_raise(b):
    for read in (wav_meta_bytes, gray_dhash_bytes, exif_meta_bytes,
                 mp4_meta_bytes, webm_meta_bytes):
        m = read(b)
        assert m is None or isinstance(m, (dict, int))
    m = decode_bytes(b, real=False)
    assert m["format"] == "stub/raw" and m["n_bytes"] == len(b)


@settings(**_SETTINGS)
@given(blobs)
def test_pdf_lines_row_quarantines(b):
    rows = list(_pdf_lines_row("u", b))
    assert all(len(r) == 11 and r[0] == "u" for r in rows)
    for r in rows:
        # a line row carries no error; the quarantine row is the last
        # one, with page/line -1 and the error text
        assert (r[10] is None) == (r[1] != -1)
    assert all(r[10] is None for r in rows[:-1])


@settings(**_SETTINGS)
@given(blobs)
def test_word_row_quarantines(b):
    (url, kind, text, err), = _word_row("u", b)
    assert url == "u"
    assert kind in ("docx", "doc", "unknown", "error")
    assert (err is None) == (text is not None)
