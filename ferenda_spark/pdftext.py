"""Bounded stdlib PDF text-extraction kernel (S8's PDF binary branch).

The reference shells out to poppler's pdftohtml for the binary->pdf2xml
conversion (/root/reference/ferenda/pdfreader.py:90-455); this module
implements the text-bearing subset from scratch with only ``zlib`` +
``re`` so the existing pdf2xml model/analyzer (``pdfpages``) gets a
real end-to-end PDF path:

* classic PDF object syntax (``N G obj`` bodies scanned directly — no
  xref needed), dictionaries/arrays/names/strings/hex-strings/refs,
  FlateDecode streams;
* per-font text decoding: ToUnicode CMaps (bfchar/bfrange incl.
  multi-char targets — the path sample.pdf's subsetted fonts need),
  /Encoding /Differences glyph names (AGL subset + uniXXXX), latin-1
  fallback for standard-14 fonts;
* a content-stream interpreter for the text operators (BT/ET, Tf, Tm,
  Td/TD/T*/TL, Tj/TJ/'/") with full q/Q CTM tracking, emitting
  positioned text runs; runs sharing a baseline merge into lines.

Geometry (poppler-parity, golden-proven): boxes replicate poppler
pdftohtml's metric pipeline — per-glyph advances from /Widths (or the
public Adobe core-14 AFM tables for descriptor-less standard fonts)
with Tc/Tw/Tz and TJ displacements (PDF 9.4.4); yMin/yMax from the
FontDescriptor Ascent/Descent (poppler's defaulting + clamping
rules); box segmentation via poppler's coalesce conditions (edge-
containment vertical overlap > 0.5*height, horizontal gap within
(-0.5*height, height)); every attribute xoutRound'ed (int(v + 0.5))
with poppler's double op order.  tests/test_pdftext.py proves
equality against the reference's cached intermediates: sample.pdf
9/9 boxes exact on (top, left, width, height, fontspec size);
custom-encoding.pdf 292/294 exact (2 pinned widths off by 1px —
sub-pixel straddles of poppler's builtin-metrics rounding).  TEXT
parity: per-line equality against ``intermediate/sample.xml``.  Known
infeasible fixture, pinned: ``custom-encoding.pdf`` maps text through
a custom /Differences-less encoding without ToUnicode — the
reference's own cached ``intermediate/custom-encoding.xml`` contains
code-garbage for those fonts ("PHOODQ.RQXQJDULNHW..."), i.e. poppler
cannot decode it either; matching that byte-for-byte would mean
replicating poppler's internal fallback tables, which carries no
information value.  PDF 1.5+ compressed objects (/Type /ObjStm) are
indexed lazily on the first direct-scan miss; xref tables/streams
themselves are never needed (objects are located by scanning).  Not
supported (documented): encryption, CID fonts with 2-byte codespaces
beyond identity, stream predictors (PNG /DecodeParms — used by xref
streams, which this reader does not read), inline images (skipped via
BI..EI scan).
"""

from __future__ import annotations

import re
import zlib

# ------------------------------------------------------------ objects


class Ref:
    __slots__ = ("num",)

    def __init__(self, num):
        self.num = num


class Name(str):
    pass


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self):
        d = self.data
        while self.pos < len(d):
            c = d[self.pos:self.pos + 1]
            if c in (b"%",):
                nl = d.find(b"\n", self.pos)
                self.pos = len(d) if nl < 0 else nl + 1
            elif c in _WS:
                self.pos += 1
            else:
                return

    def literal_string(self) -> bytes:
        # pos at '('
        d = self.data
        i = self.pos + 1
        depth = 1
        out = bytearray()
        while i < len(d) and depth:
            c = d[i]
            if c == 0x5c:                      # backslash
                i += 1
                e = d[i:i + 1]
                esc = {b"n": b"\n", b"r": b"\r", b"t": b"\t",
                       b"b": b"\b", b"f": b"\x0c", b"(": b"(",
                       b")": b")", b"\\": b"\\"}
                if e in esc:
                    out += esc[e]
                    i += 1
                elif e.isdigit():              # octal, up to 3 digits
                    j = i
                    while j < i + 3 and d[j:j + 1].isdigit():
                        j += 1
                    out.append(int(d[i:j], 8) & 0xFF)
                    i = j
                elif e in (b"\n", b"\r"):      # line continuation
                    i += 1
                    if e == b"\r" and d[i:i + 1] == b"\n":
                        i += 1
                else:
                    out += e
                    i += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth:
                    out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        self.pos = i
        return bytes(out)

    def hex_string(self) -> bytes:
        end = self.data.find(b">", self.pos)
        h = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos + 1:end])
        if len(h) % 2:
            h += b"0"
        self.pos = end + 1
        return bytes.fromhex(h.decode("ascii"))

    def name(self) -> Name:
        i = self.pos + 1
        d = self.data
        out = bytearray()
        while i < len(d) and d[i:i + 1] not in _WS \
                and d[i:i + 1] not in b"()<>[]{}/%":
            if d[i] == 0x23 and i + 2 < len(d):      # #xx escape
                out.append(int(d[i + 1:i + 3], 16))
                i += 3
            else:
                out.append(d[i])
                i += 1
        self.pos = i
        return Name(out.decode("latin-1"))

    def number(self):
        m = re.match(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)",
                     self.data[self.pos:self.pos + 32])
        tok = m.group()
        self.pos += len(tok)
        return float(tok) if b"." in tok else int(tok)

    def value(self):
        self.skip_ws()
        d, p = self.data, self.pos
        c = d[p:p + 1]
        if c == b"<":
            if d[p:p + 2] == b"<<":
                return self.dictionary()
            return self.hex_string()
        if c == b"(":
            return self.literal_string()
        if c == b"/":
            return self.name()
        if c == b"[":
            self.pos += 1
            out = []
            while True:
                self.skip_ws()
                if d[self.pos:self.pos + 1] == b"]":
                    self.pos += 1
                    return out
                out.append(self.value())
        if c in b"+-.0123456789":
            n = self.number()
            # lookahead for "G R" indirect reference
            if isinstance(n, int):
                m = re.match(rb"\s+(\d+)\s+R(?![A-Za-z0-9])",
                             d[self.pos:self.pos + 24])
                if m:
                    self.pos += m.end()
                    return Ref(n)
            return n
        m = re.match(rb"true|false|null", d[p:p + 5])
        if m:
            self.pos += m.end()
            return {b"true": True, b"false": False, b"null": None}[m.group()]
        raise ValueError("bad PDF token at %d: %r" % (p, d[p:p + 20]))

    def dictionary(self) -> dict:
        self.pos += 2
        out = {}
        while True:
            self.skip_ws()
            if self.data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.name()
            out[str(key)] = self.value()


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (TIFF-style: MSB-first variable 9-12-bit codes,
    256=ClearTable, 257=EOD, EarlyChange=1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # EarlyChange: width bumps one code early
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


class PdfDocument:
    """Classic (non-xref-stream) PDF: objects located by scanning for
    ``N G obj``, parsed lazily, streams Flate-decoded on demand."""

    def __init__(self, data: bytes):
        self.data = data
        # ALL candidate offsets per object number: a byte run inside a
        # compressed stream body can accidentally spell "N G obj", so
        # resolution tries candidates in order until one parses (the
        # xref-free equivalent of poppler's reconstruction scan)
        self.offsets: dict[int, list] = {}
        for m in re.finditer(rb"(?<![0-9])(\d+)\s+(\d+)\s+obj\b", data):
            self.offsets.setdefault(int(m.group(1)),
                                    []).append(m.end())
        self._cache: dict[int, tuple] = {}
        self._objstm: dict[int, tuple] | None = None

    def _ensure_objstm_index(self):
        """PDF 1.5+ compressed objects: objects living inside
        /Type /ObjStm streams (pairs of ``objnum offset`` in the
        stream head, bodies after /First).  Indexed lazily — only when
        an object number is missing from the direct scan, so classic
        PDFs never pay for it."""
        if self._objstm is not None:
            return
        self._objstm = {}
        for num in list(self.offsets):
            try:
                d, raw = self.obj(num)
            except Exception:
                continue
            if not (isinstance(d, dict)
                    and str(d.get("Type")) == "ObjStm"
                    and raw is not None):
                continue
            try:
                payload = self.stream_data(Ref(num))
                first = int(self.resolve(d.get("First")))
                n = int(self.resolve(d.get("N")))
                lex = _Lexer(payload)
                pairs = []
                for _ in range(n):
                    lex.skip_ws()
                    onum = int(lex.number())
                    lex.skip_ws()
                    off = int(lex.number())
                    pairs.append((onum, off))
                for onum, off in pairs:
                    self._objstm.setdefault(onum, (payload, first + off))
            except Exception:
                continue

    def obj(self, num: int):
        """-> (value, raw_stream_bytes_or_None)."""
        if num in self._cache:
            return self._cache[num]
        if num not in self.offsets:
            self._ensure_objstm_index()
            payload, off = self._objstm[num]
            self._cache[num] = (_Lexer(payload, off).value(), None)
            return self._cache[num]
        candidates = self.offsets[num]
        val = lex = None
        for i, cand in enumerate(candidates):
            lex = _Lexer(self.data, cand)
            try:
                val = lex.value()
                break
            except Exception:
                if i == len(candidates) - 1:
                    raise           # every candidate is garbage
        stream = None
        lex.skip_ws()
        if self.data[lex.pos:lex.pos + 6] == b"stream":
            p = lex.pos + 6
            if self.data[p:p + 2] == b"\r\n":
                p += 2
            elif self.data[p:p + 1] == b"\n":
                p += 1
            length = self.resolve(val.get("Length"))
            if isinstance(length, (int, float)):
                stream = self.data[p:p + int(length)]
            else:
                end = self.data.find(b"endstream", p)
                stream = self.data[p:end].rstrip(b"\r\n")
        self._cache[num] = (val, stream)
        return self._cache[num]

    def resolve(self, v):
        while isinstance(v, Ref):
            v = self.obj(v.num)[0]
        return v

    def stream_data(self, v) -> bytes:
        if isinstance(v, Ref):
            d, raw = self.obj(v.num)
        else:
            raise ValueError("stream must be an indirect object")
        filt = self.resolve(d.get("Filter"))
        if filt is None:
            return raw
        filts = filt if isinstance(filt, list) else [filt]
        out = raw
        for f in filts:
            f = str(self.resolve(f))
            if f == "FlateDecode":
                out = zlib.decompress(out)
            elif f == "LZWDecode":
                out = _lzw_decode(out)
            else:
                raise ValueError("unsupported filter %s" % f)
        return out

    # ----------------------------------------------------- page tree

    def catalog(self) -> dict:
        m = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", self.data)
        if m:
            return self.resolve(Ref(int(m.group(1))))
        for num in self.offsets:                   # fallback scan
            v = self.obj(num)[0]
            if isinstance(v, dict) and str(v.get("Type")) == "Catalog":
                return v
        raise ValueError("no /Catalog found")

    def pages(self) -> list[dict]:
        out = []

        def walk(node, inherited):
            node = self.resolve(node)
            merged = dict(inherited)
            for k in ("Resources", "MediaBox", "Rotate"):
                if k in node:
                    merged[k] = node[k]
            if str(node.get("Type")) == "Page":
                page = dict(node)
                for k, v in merged.items():
                    page.setdefault(k, v)
                out.append(page)
            else:
                for kid in self.resolve(node.get("Kids") or []):
                    walk(kid, merged)

        walk(self.catalog().get("Pages"), {})
        return out


# -------------------------------------------------------------- fonts

# the slice of the Adobe Glyph List the /Differences fixtures use
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "underscore": "_",
    "adieresis": "ä", "aring": "å", "odieresis": "ö",
    "Adieresis": "Ä", "Aring": "Å", "Odieresis": "Ö",
    "eacute": "é", "Eacute": "É", "section": "§",
    "endash": "–", "emdash": "—", "bullet": "•",
    "quotedblleft": "“", "quotedblright": "”",
    "quoteleft": "‘", "quoteright": "’",
}
for _i in range(10):
    _AGL[["zero", "one", "two", "three", "four", "five", "six",
          "seven", "eight", "nine"][_i]] = str(_i)
for _c in range(26):
    _AGL[chr(65 + _c)] = chr(65 + _c)
    _AGL[chr(97 + _c)] = chr(97 + _c)


def _glyph_to_char(name: str) -> str | None:
    if name in _AGL:
        return _AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    return None


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _hex_to_str(h: bytes) -> str:
    """CMap destination hex -> text: UTF-16BE code units (multi-char
    targets like sample.pdf's <0009 000d 0020 00a0> included)."""
    h = re.sub(rb"\s", b"", h)
    raw = bytes.fromhex(h.decode("ascii"))
    if len(raw) % 2:
        # terse one-byte destinations (<41> = U+0041): the missing
        # byte is the HIGH one — appending instead would turn it into
        # U+4100 mojibake
        raw = b"\x00" + raw
    return raw.decode("utf-16-be", "replace")


def _wtab(groups) -> dict[str, int]:
    d: dict[str, int] = {}
    for chars, w in groups:
        for c in chars:
            d[c] = w
    return d


# Adobe core-14 AFM metrics (public: Adobe's Core14 AFM distribution,
# same data poppler ships in BuiltinFontTables).  Only the families the
# fixtures and synthetic corpora use; ascent/descent are the AFM
# Ascender/Descender over 1000, widths are glyph advances per 1000,
# keyed by the latin-1 char the code decodes to.
_BUILTIN_METRICS = {
    "Times-Roman": (0.683, -0.217), "Times-Bold": (0.683, -0.217),
    "Times-Italic": (0.683, -0.217), "Times-BoldItalic": (0.683, -0.217),
    "Helvetica": (0.718, -0.207), "Helvetica-Bold": (0.718, -0.207),
    "Helvetica-Oblique": (0.718, -0.207),
    "Helvetica-BoldOblique": (0.718, -0.207),
    "Courier": (0.629, -0.157), "Courier-Bold": (0.629, -0.157),
    "Courier-Oblique": (0.629, -0.157),
    "Courier-BoldOblique": (0.629, -0.157),
}

_TIMES_ROMAN_W = _wtab([
    (" ,.", 250), ("!()'-`frI[]", 333), ('"', 408),
    ("#$*0123456789_bdghknopquvxy\u00f1\u00f2\u00f3\u00f4\u00f5\u00f6\u00f9\u00fa\u00fb\u00fc\u00fd\u00ff\u00f8\u00df", 500),
    ("%", 833), ("&m", 778), ("+<=>", 564),
    ("/\\:;ijlt\u00ec\u00ed\u00ee\u00ef", 278),
    ("?acesz\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u00e7\u00e8\u00e9\u00ea\u00eb", 444),
    ("Js", 389), ("@", 921),
    ("ADGHKNOQUVXYw\u00c0\u00c1\u00c2\u00c3\u00c4\u00c5\u00d2\u00d3\u00d4\u00d5\u00d6\u00d9\u00da\u00db\u00dc\u00dd\u00d8", 722),
    ("BCR\u00c7\u00e6", 667), ("ELTZ\u00c9\u00c8\u00ca\u00cb", 611),
    ("FPS", 556), ("M\u00c6", 889), ("W", 944), ("^", 469),
    ("{}", 480), ("|", 200), ("~", 541),
    # typographic punctuation (AFM: quotedblleft/right 444,
    # quoteleft/right 333, en dash 500, em dash 1000, bullet 350,
    # dagger/daggerdbl 500, ellipsis 1000, perthousand 1000)
    ("\u201c\u201d\u201e", 444), ("\u2018\u2019\u201a", 333),
    ("\u2013", 500), ("\u2014\u2026\u2030", 1000),
    ("\u2022", 350), ("\u2020\u2021", 500), ("\ufb01\ufb02", 556),
])

_HELVETICA_W = _wtab([
    (" !,./:;ftI[\\]\u00ec\u00ed\u00ee\u00ef", 278), ('"', 355),
    ("#$0123456789?_abdeghnopquL\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u00e8\u00e9\u00ea\u00eb\u00f1\u00f2\u00f3\u00f4\u00f5\u00f6\u00f9\u00fa\u00fb\u00fc", 556),
    ("%\u00e6", 889),
    ("&ABEKPSVXY\u00c7\u00c9\u00c8\u00ca\u00cb\u00c0\u00c1\u00c2\u00c3\u00c4\u00c5", 667),
    ("'ijl", 222), ("()-`r", 333), ("*", 389), ("+<=>~", 584),
    ("@", 1015), ("CDHNRUw\u00d9\u00da\u00db\u00dc", 722),
    ("FTZ\u00df\u00f8", 611),
    ("GOQ\u00d2\u00d3\u00d4\u00d5\u00d6\u00d8", 778),
    ("Jcksvxyz\u00e7", 500), ("Mm", 833), ("W", 944), ("^", 469),
    ("{}", 334), ("|", 260),
    ("\u201c\u201d\u201e", 333), ("\u2018\u2019\u201a", 222),
    ("\u2013", 556), ("\u2014\u2026\u2030", 1000),
    ("\u2022", 350), ("\u2020\u2021", 556), ("\ufb01\ufb02", 500),
])
_BUILTIN_WIDTHS = {
    "Times-Roman": _TIMES_ROMAN_W, "Times-Bold": _TIMES_ROMAN_W,
    "Times-Italic": _TIMES_ROMAN_W, "Times-BoldItalic": _TIMES_ROMAN_W,
    "Helvetica": _HELVETICA_W, "Helvetica-Bold": _HELVETICA_W,
    "Helvetica-Oblique": _HELVETICA_W,
    "Helvetica-BoldOblique": _HELVETICA_W,
}


def parse_tounicode(cmap: bytes) -> dict[int, str]:
    out: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(cmap):
        toks = _HEX_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            out[int(src, 16)] = _hex_to_str(dst)
    for m in _BFRANGE_RE.finditer(cmap):
        body = m.group(1)
        pos = 0
        while True:
            t = re.match(
                rb"\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                rb"(?:<([0-9A-Fa-f\s]+)>|\[((?:\s*<[0-9A-Fa-f\s]*>)+)\s*\])",
                body[pos:])
            if not t:
                break
            lo, hi = int(t.group(1), 16), int(t.group(2), 16)
            if t.group(3) is not None:
                base = _hex_to_str(t.group(3))
                for i in range(hi - lo + 1):
                    if len(base) == 1:
                        out[lo + i] = chr(ord(base) + i)
                    else:                        # multi-char base: no
                        out[lo + i] = base       # increment semantics
            else:
                dsts = _HEX_RE.findall(t.group(4))
                for i, dst in enumerate(dsts):
                    out[lo + i] = _hex_to_str(dst)
            pos += t.end()
    return out


class PdfFont:
    def __init__(self, doc: PdfDocument, d: dict):
        d = doc.resolve(d)
        self.base = str(doc.resolve(d.get("BaseFont")) or "unknown")
        # --- metrics (poppler GfxFont::readFontDescriptor semantics:
        # defaults 0.95/-0.35; a descriptor Ascent/Descent overrides
        # only when nonzero; positive Descent is negated; descriptor
        # values are per-1000 glyph units) -------------------------
        self.ascent, self.descent = 0.95, -0.35
        plain = self.base.split("+")[-1]          # drop subset prefix
        if plain in _BUILTIN_METRICS and "FontDescriptor" not in d:
            self.ascent, self.descent = _BUILTIN_METRICS[plain]
        desc = doc.resolve(d.get("FontDescriptor") or {})
        a = doc.resolve(desc.get("Ascent"))
        if isinstance(a, (int, float)) and a:
            self.ascent = a / 1000.0
        dd = doc.resolve(desc.get("Descent"))
        if isinstance(dd, (int, float)) and dd:
            self.descent = -abs(dd) / 1000.0
        # HtmlOutputDev clamps implausible metrics before computing
        # the box (HtmlString ctor)
        if self.ascent > 1.05:
            self.ascent = 1.05
        if self.descent < -0.4:
            self.descent = -0.4
        mw = doc.resolve(desc.get("MissingWidth"))
        self.missing_width = float(mw) if isinstance(mw, (int, float)) \
            else 0.0
        fc = doc.resolve(d.get("FirstChar"))
        self.first_char = int(fc) if isinstance(fc, (int, float)) else None
        ws = doc.resolve(d.get("Widths"))
        self.widths = ([float(doc.resolve(w)) for w in ws]
                       if isinstance(ws, list) else None)
        self.builtin_widths = (_BUILTIN_WIDTHS.get(plain)
                               if self.widths is None else None)
        self.builtin_default = (600.0 if plain.startswith("Courier")
                                else 500.0)   # Courier is monospaced
        self.tounicode = {}
        if "ToUnicode" in d:
            try:
                self.tounicode = parse_tounicode(
                    doc.stream_data(d["ToUnicode"]))
            except Exception:
                pass
        self.differences: dict[int, str] = {}
        enc = doc.resolve(d.get("Encoding"))
        if isinstance(enc, dict):
            code = 0
            for item in doc.resolve(enc.get("Differences") or []):
                if isinstance(item, (int, float)):
                    code = int(item)
                else:
                    ch = _glyph_to_char(str(item))
                    if ch is not None:
                        self.differences[code] = ch
                    code += 1

    def decode(self, raw: bytes) -> str:
        out = []
        for b in raw:
            if b in self.tounicode:
                out.append(self.tounicode[b])
            elif b in self.differences:
                out.append(self.differences[b])
            else:
                out.append(chr(b))               # latin-1 fallback
        return "".join(out)

    def char_width(self, code: int) -> float:
        """Glyph advance in per-1000 text-space units (the /Widths
        entry, or core-14 AFM metrics for descriptor-less standard
        fonts — poppler's width source for the same two cases)."""
        if self.widths is not None and self.first_char is not None:
            i = code - self.first_char
            if 0 <= i < len(self.widths):
                return self.widths[i]
            return self.missing_width
        if self.builtin_widths is not None:
            ch = (self.tounicode.get(code)
                  or self.differences.get(code) or chr(code))
            w = self.builtin_widths.get(ch[:1])
            return float(w) if w is not None else self.builtin_default
        return self.missing_width or self.builtin_default


# -------------------------------------------- content-stream interpret

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mul(m, n):
    a, b, c, d, e, f = m
    A, B, C, D, E, F = n
    return (a * A + b * C, a * B + b * D,
            c * A + d * C, c * B + d * D,
            e * A + f * C + E, e * B + f * D + F)


_CS_TOKEN = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"        # literal string (1-level; nested
    rb"|<[0-9A-Fa-f\s]*>"           #  handled by the lexer on demand)
    rb"|/[^\s()<>\[\]{}/%]*"
    rb"|[+-]?(?:\d+\.\d*|\.\d+|\d+)"
    rb"|\[|\]"
    rb"|[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _iter_runs(content: bytes, fonts: dict[str, PdfFont]):
    """Yield (x, y, eff_size, font_name, text, x_end, ascent, descent)
    runs in user space.  ``x_end`` is the text cursor after the last
    glyph (poppler's per-string xMax source): per-char advances are
    Widths/AFM glyph widths plus Tc/Tw, scaled by Tz, with TJ
    displacements applied between glyphs — the PDF 9.4.4 advance
    formula, same as poppler's Gfx::doShowText."""
    ctm = _ID
    stack: list[tuple] = []
    tm = tlm = _ID
    tl = 0.0
    font = None
    size = 1.0
    tc = tw = 0.0          # Tc char spacing / Tw word spacing
    tz = 100.0             # Tz horizontal scaling (percent)
    operands: list = []

    def emit(parts):
        # parts: bytes segments and TJ kerning floats; a displacement
        # more negative than -100/1000 em is an encoded inter-word gap
        # (the standard extractor heuristic) and becomes a space.
        # Returns the total cursor displacement (text space) so the
        # caller can advance the text matrix.
        #
        # A TJ displacement that opens a horizontal gap wider than the
        # line height starts a NEW run (poppler's box segmentation:
        # HtmlPage::coalesce merges adjacent strings only when
        # -0.5*lineheight < gap < lineheight — TOC leader columns and
        # numbered headings stay separate boxes).  Gaps can only open
        # at part boundaries: glyphs inside one string are contiguous.
        fobj = fonts.get(font) if font is not None else None
        hs = tz / 100.0
        space = ((fobj.ascent - fobj.descent) * size
                 if fobj is not None else None)
        cursor = 0.0
        segs: list[list] = []      # [start, last_end, [parts...]]
        cur = None
        for p in parts:
            if isinstance(p, bytes) and p:
                if cur is not None:
                    gap = cursor - cur[1]
                    if not (space is not None
                            and -0.5 * space < gap < space):
                        cur = None
                if cur is None:
                    cur = [cursor, cursor, []]
                    segs.append(cur)
                cur[2].append(p)
                for code in p:
                    w = 0.0 if fobj is None else fobj.char_width(code)
                    cursor += (w / 1000.0 * size + tc
                               + (tw if code == 32 else 0.0)) * hs
                cur[1] = cursor
            elif not isinstance(p, bytes):
                cursor -= p / 1000.0 * size * hs
                if cur is not None and p < -100:
                    cur[2].append(p)     # word-gap marker for decode
        if font is not None and fobj is not None:
            trm = _mul(tm, ctm)
            sx = (trm[0] ** 2 + trm[1] ** 2) ** 0.5
            eff = size * sx
            for s0, s1, ps in segs:
                runs.append((trm[4] + s0 * sx, trm[5], eff, font,
                             tuple(ps), trm[4] + s1 * sx))
        return cursor

    runs: list = []
    pos = 0
    lex = _Lexer(content)
    while pos < len(content):
        m = _CS_TOKEN.search(content, pos)
        if not m:
            break
        tok = m.group()
        pos = m.end()
        if tok.startswith(b"("):
            lex.pos = m.start()
            operands.append(lex.literal_string())
            pos = lex.pos
        elif tok.startswith(b"<"):
            lex.pos = m.start()
            operands.append(lex.hex_string())
            pos = lex.pos
        elif tok.startswith(b"/"):
            operands.append(Name(tok[1:].decode("latin-1")))
        elif tok in (b"[", b"]"):
            pass            # structural only; TJ joins string operands
        elif tok[0:1] in b"+-.0123456789":
            operands.append(float(tok))
        else:
            op = tok
            if op == b"q":
                # q saves the FULL graphics state incl. text state
                # (PDF 8.4.2) — Tc leaking across Q shifted poppler-
                # parity widths by Tc*len(chars)
                stack.append((ctm, font, size, tc, tw, tz, tl))
            elif op == b"Q":
                if stack:       # unbalanced Q is a no-op (grestore
                    (ctm, font, size, tc, tw, tz,    # on an empty
                     tl) = stack.pop()               # stack)
            elif op == b"cm" and len(operands) >= 6:
                ctm = _mul(tuple(operands[-6:]), ctm)
            elif op == b"BT":
                tm = tlm = _ID
            elif op == b"Tf" and len(operands) >= 2:
                fname = operands[-2]
                font = str(fname) if isinstance(fname, Name) else None
                size = float(operands[-1])
            elif op == b"TL" and operands:
                tl = float(operands[-1])
            elif op == b"Tm" and len(operands) >= 6:
                tm = tlm = tuple(float(v) for v in operands[-6:])
            elif op in (b"Td", b"TD") and len(operands) >= 2:
                tx, ty = float(operands[-2]), float(operands[-1])
                if op == b"TD":
                    tl = -ty
                tm = tlm = _mul((1, 0, 0, 1, tx, ty), tlm)
            elif op == b"T*":
                tm = tlm = _mul((1, 0, 0, 1, 0, -tl), tlm)
            elif op == b"Tc" and operands:
                tc = float(operands[-1])
            elif op == b"Tw" and operands:
                tw = float(operands[-1])
            elif op == b"Tz" and operands:
                tz = float(operands[-1])
            elif op in (b"Tj", b"'", b'"'):
                if op != b"Tj":
                    tm = tlm = _mul((1, 0, 0, 1, 0, -tl), tlm)
                if op == b'"' and len(operands) >= 3:
                    tw = float(operands[-3])
                    tc = float(operands[-2])
                raws = [v for v in operands if isinstance(v, bytes)]
                if raws:
                    adv = emit([raws[-1]])
                    tm = _mul((1, 0, 0, 1, adv, 0), tm)
            elif op == b"TJ":
                adv = emit([v for v in operands
                            if isinstance(v, (bytes, float))])
                tm = _mul((1, 0, 0, 1, adv, 0), tm)
            elif op == b"BI":
                end = content.find(b"EI", pos)   # skip inline images
                pos = len(content) if end < 0 else end + 2
            operands = []
    for x, y, eff, fname, parts, x_end in runs:
        f = fonts.get(fname)
        if f is None:
            continue
        pieces = []
        for p in parts:
            if isinstance(p, bytes):
                pieces.append(f.decode(p))
            elif p < -100:                       # TJ word gap -> space
                pieces.append(" ")
        yield (x, y, eff, f.base, "".join(pieces), x_end,
               f.ascent, f.descent)


# ------------------------------------------------------------- public

ZOOM = 1.5        # poppler pdftohtml's default scale (its 892x1263
                  # page box for A4 = 595x842 * 1.5)


def extract_text_pages(data: bytes, zoom: float = ZOOM,
                       sort_lines: bool = True) -> list[dict]:
    """PDF bytes -> [{number, width, height, lines}] where lines is
    [{top, left, size, font, text}] in reading order; runs on the same
    baseline (|dy| <= 2 device units) merge left-to-right into one
    line, matching poppler's box-per-line output for line-oriented
    text PDFs.  ``sort_lines=False`` keeps content-stream emission
    order (poppler's box order — what the golden comparison against
    its cached intermediates uses)."""
    doc = PdfDocument(data)
    pages = []
    for i, page in enumerate(doc.pages(), 1):
        box = [float(doc.resolve(v))
               for v in doc.resolve(page.get("MediaBox"))]
        w, h = box[2] - box[0], box[3] - box[1]
        res = doc.resolve(page.get("Resources") or {})
        fonts = {str(k): PdfFont(doc, v)
                 for k, v in doc.resolve(res.get("Font") or {}).items()}
        contents = page.get("Contents")
        resolved = doc.resolve(contents)
        sources = resolved if isinstance(resolved, list) else [contents]
        chunks = []
        for c in sources:
            try:
                chunks.append(doc.stream_data(c))
            except Exception:
                pass
        content = b"\n".join(chunks)
        runs = list(_iter_runs(content, fonts))
        if sort_lines:
            # poppler keeps strings sorted by (yMin, xMin) in device
            # space ("yx order") and coalesces ADJACENT entries; the
            # same order here makes the merge decisions line up (a
            # raised footnote marker sorts before the body line it
            # overlaps, so it can't capture the body's left edge)
            runs.sort(key=lambda r:
                      (((-zoom) * r[1] + h * zoom) - r[6] * (r[2] * zoom),
                       r[0]))
        # Geometry replicates poppler pdftohtml's box math exactly
        # (HtmlOutputDev HtmlString ctor + xml dump, golden-verified
        # against the reference's cached intermediates): device y =
        # ctm[3]*y + ctm[5] with ctm = (zoom,0,0,-zoom,0,h*zoom);
        # per-run yMin/yMax = y_dev -/+ clamped ascent/descent times
        # the transformed font size; a line's box is the union over
        # its merged runs; every attribute is xoutRound'ed, i.e.
        # int(v + 0.5).  The double op ORDER matters: ties like
        # yMin = 346.5 resolve differently under reassociation.
        H = h * zoom
        lines: list[dict] = []
        for x, y, eff, base, text, x_end, asc, dsc in runs:
            y_dev = (-zoom) * y + H
            fs_dev = eff * zoom
            y_min = y_dev - asc * fs_dev
            y_max = y_dev - dsc * fs_dev
            x_dev = zoom * x
            xe_dev = zoom * x_end
            # poppler HtmlPage::coalesce: merge the next string into
            # the accumulated box when they overlap vertically by more
            # than half the box height AND the horizontal gap is
            # within (-0.5*height, height)
            mergeable = False
            if lines:
                ln = lines[-1]
                sp = ln["_ymax"] - ln["_ymin"]
                # vertOverlap counts only when one of the new string's
                # vertical EDGES falls inside the accumulated box — a
                # taller string whose box strictly contains the line's
                # (italic lead-ins with default-metric ascent) does
                # NOT overlap by this definition and starts a new box
                if ln["_ymin"] <= y_min <= ln["_ymax"]:
                    overlap = ln["_ymax"] - y_min
                elif ln["_ymin"] <= y_max <= ln["_ymax"]:
                    overlap = y_max - ln["_ymin"]
                else:
                    overlap = 0.0
                gap = x_dev - ln["_xend"]
                mergeable = (overlap > 0.5 * sp
                             and -0.5 * sp < gap < sp)
            if mergeable:
                ln = lines[-1]
                ln["text"] += text
                ln["_ymin"] = min(ln["_ymin"], y_min)
                ln["_ymax"] = max(ln["_ymax"], y_max)
                ln["_xmin"] = min(ln["_xmin"], x_dev)
                ln["_xend"] = max(ln["_xend"], xe_dev)
            else:
                lines.append({"_y": y, "_ymin": y_min, "_ymax": y_max,
                              "_xmin": x_dev, "_xend": xe_dev,
                              "size": round(eff * zoom),
                              "_fsdev": fs_dev,
                              "font": base, "text": text})
        for ln in lines:
            ln["top"] = int(ln["_ymin"] + 0.5)
            ln["left"] = int(ln["_xmin"] + 0.5)
            ln["width"] = int((ln["_xend"] - ln["_xmin"]) + 0.5)
            ln["height"] = int((ln["_ymax"] - ln["_ymin"]) + 0.5)
            # poppler's fontspec size (HtmlFont): int truncation of
            # the transformed size minus 2 — fitted and golden-checked
            # across both cached intermediates (5 fontspecs each way)
            ln["fontsize"] = int(ln["_fsdev"]) - 2
            for k in ("_y", "_ymin", "_ymax", "_xmin", "_xend",
                      "_fsdev"):
                del ln[k]
        pages.append({"number": i, "width": int(w * zoom),
                      "height": int(h * zoom),
                      "lines": [ln for ln in lines if ln["text"].strip()]})
    return pages


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def pdf_to_pdf2xml(data: bytes, zoom: float = ZOOM) -> str:
    """PDF bytes -> pdf2xml-shaped document consumable by
    ``pdfpages.parse_pdf2xml``, with poppler-parity geometry (top/
    left/width/height and fontspec sizes golden-equal to the
    reference's cached pdftohtml intermediates — see
    tests/test_pdftext.py)."""
    out = ["<pdf2xml producer=\"ferenda_spark.pdftext\">"]
    for page in extract_text_pages(data, zoom):
        out.append('<page number="%d" width="%d" height="%d">'
                   % (page["number"], page["width"], page["height"]))
        fonts: dict[tuple, int] = {}
        for ln in page["lines"]:
            key = (ln["font"], ln["fontsize"])
            if key not in fonts:
                fonts[key] = len(fonts)
                out.append('<fontspec id="%d" size="%d" family="%s" '
                           'color="#000000"/>'
                           % (fonts[key], ln["fontsize"],
                              _xml_escape(ln["font"])))
        for ln in page["lines"]:
            out.append('<text top="%d" left="%d" width="%d" '
                       'height="%d" font="%d">%s</text>'
                       % (ln["top"], ln["left"], max(ln["width"], 1),
                          ln["height"],
                          fonts[(ln["font"], ln["fontsize"])],
                          _xml_escape(ln["text"])))
        out.append("</page>")
    out.append("</pdf2xml>")
    return "\n".join(out)


PDF_TEXT_SCHEMA = ("url string, page int, line int, top int, left int, "
                   "width int, height int, "
                   "size int, font string, text string, error string")


def _pdf_lines_row(url, blob):
    """One PDF -> its text-line rows; where the document stops parsing,
    one quarantine row (page and line -1, the error text) follows the
    lines read so far."""
    try:
        for page in extract_text_pages(blob):
            for j, ln in enumerate(page["lines"]):
                yield (url, page["number"], j, ln["top"], ln["left"],
                       ln["width"], ln["height"], ln["size"], ln["font"],
                       ln["text"], None)
    except Exception as e:
        yield (url, -1, -1, 0, 0, 0, 0, 0, None, None, str(e))


def pdf_blobs_to_lines(docs, blob_col: str = "blob", url_col: str = "url"):
    """Spark stage: (url, pdf bytes) -> one row per text line; broken
    documents yield a quarantine row (I4) instead of failing the
    batch."""
    from .rowmap import map_rows
    return map_rows(docs.select(url_col, blob_col), _pdf_lines_row,
                    PDF_TEXT_SCHEMA)


def _one_page_pdf(content: str) -> bytes:
    """A minimal uncompressed one-page PDF (standard-14 Helvetica, no
    embedding) around the content stream ``content``."""
    return ("%%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 "
            "/MediaBox [0 0 612 792] >> endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Resources "
            "<< /Font << /F1 4 0 R >> >> /Contents 5 0 R >> endobj\n"
            "4 0 obj << /Type /Font /Subtype /Type1 "
            "/BaseFont /Helvetica >> endobj\n"
            "5 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
            "trailer << /Root 1 0 R >>\n%%%%EOF\n"
            % (len(content), content)).encode("latin-1")


def synth_pdf_blobs(docs, id_col: str = "doc_id"):
    """Deterministic minimal text PDFs keyed on ``doc_id`` (closed
    form, mirrored by the DuckDB oracle): one page, a standard-14 font
    (no embedding), two Tj lines whose content is a function of the
    id.  Uncompressed streams so the blob is byte-stable."""
    from .rowmap import map_rows

    def row(d):
        yield ("https://example.org/pdfbin/%d" % d, _one_page_pdf(
            "BT /F1 12 Tf 72 720 Td (Line one %d) Tj "
            "0 -20 Td (Second %d) Tj ET" % (d, d % 9)))

    return map_rows(docs.select(id_col), row, "url string, blob binary")


def synth_pdf_section_blobs(docs, id_col: str = "doc_id"):
    """Sectioned variant of :func:`synth_pdf_blobs`: a title line
    (24 pt), then ``1 + doc_id %% 3`` sections, each an 18 pt heading
    plus a 12 pt body line — the closed-form input for the end-to-end
    PDF -> layout-classified sections -> triples driver query (the
    reference's fixed-layout source path, fixedlayoutsource.py +
    pdfanalyze font-size segmentation)."""
    from .rowmap import map_rows

    def row(d):
        parts = ["BT /F1 24 Tf 72 740 Td (Doc %d) Tj" % d]
        for s in range(1, 2 + d % 3):
            parts.append("/F1 18 Tf 0 -40 Td (Section %d) Tj" % s)
            parts.append("/F1 12 Tf 0 -20 Td (Body %d %d) Tj" % (d, s))
        yield ("https://example.org/pdfdoc/%d" % d,
               _one_page_pdf(" ".join(parts) + " ET"))

    return map_rows(docs.select(id_col), row, "url string, blob binary")
