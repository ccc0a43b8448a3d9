"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (driver mandate: training-data pipeline ops).

:func:`decode_bytes` has two paths.  ``real=True`` parses actual image
headers — a dependency-free JPEG SOFn / PNG IHDR reader covering the
two dominant web-image formats (no pillow needed); other formats and
AV streams raise ``NotImplementedError`` (the container has no
ffmpeg — that residue is the one declared stub).  The default path is
a deterministic fake derived from the raw bytes so the plumbing can be
oracle-verified independently of decode.  Everything Spark-side —
schema, Arrow batch shape, the ``map_rows`` plumbing, explode of
variable-length frame samples — is real and tested, which is the part
that must survive a 100 TB media corpus:

* the binary column never leaves the JVM except through Arrow batches
  (``rowmap.map_rows``, bounded by ``maxRecordsPerBatch``);
* decode output is a fixed narrow schema so downstream stages prune the
  (huge) blob column immediately;
* frame sampling emits one row per frame from inside the same Arrow
  batch pass (UDTF shape) — no driver-side loop, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..rowmap import map_rows

IMAGE_META_SCHEMA = ("doc_id long, width int, height int, n_pixels long, "
                     "format string, n_bytes long")
FRAME_SCHEMA = ("doc_id long, frame_idx int, frame_ts double, "
                "frame_md5 string")


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# SOF markers carrying frame dimensions: C0-CF except C4 (DHT),
# C8 (JPG extension) and CC (DAC)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _png_dims(b: bytes):
    """Width/height from the IHDR chunk (PNG spec: IHDR MUST be the
    first chunk, at offset 8; width/height are the first 8 IHDR
    bytes, big-endian)."""
    if len(b) < 24 or b[12:16] != b"IHDR":
        return None
    return (int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"))


def _jpeg_dims(b: bytes):
    """Walk JPEG marker segments from SOI to the first SOFn and read
    the frame height/width (big-endian, after the 1-byte precision)."""
    i, n = 2, len(b)
    while i + 3 < n:
        if b[i] != 0xFF:          # not a marker — corrupt stream
            return None
        marker = b[i + 1]
        if marker == 0xFF:        # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2                # standalone markers, no length
            continue
        if marker == 0xD9:        # EOI before any SOF
            return None
        seglen = int.from_bytes(b[i + 2:i + 4], "big")
        if marker in _JPEG_SOF:
            if i + 9 > n:
                return None
            return (int.from_bytes(b[i + 7:i + 9], "big"),
                    int.from_bytes(b[i + 5:i + 7], "big"))
        i += 2 + seglen
    return None


def _gif_dims(b: bytes):
    """Width/height from the GIF logical screen descriptor (bytes 6-9,
    little-endian u16, GIF87a/89a spec section 18)."""
    if len(b) < 10:
        return None
    return (int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"))


def _bmp_dims(b: bytes):
    """Width/height from BITMAPINFOHEADER (biSize >= 40 at offset 14;
    signed little-endian i32 at 18/22 — negative height means a
    top-down DIB, the magnitude is the pixel height)."""
    if len(b) < 26 or int.from_bytes(b[14:18], "little") < 40:
        return None
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    return (w, abs(h)) if w > 0 and h != 0 else None


def decode_bytes(b: bytes, real: bool = False) -> dict:
    """Decode kernel.  ``real=True`` parses actual image headers with
    a dependency-free reader for the four dominant web-image container
    formats — JPEG SOFn, PNG IHDR, GIF logical screen descriptor, BMP
    BITMAPINFOHEADER (no pillow needed).  Other formats and AV streams
    still raise — that residue is the declared stub (the container has
    no ffmpeg; WAV/RIFF audio has its own real parser in
    :func:`wav_meta`).  ``real=False`` keeps the deterministic fake
    used by the plumbing oracle."""
    n = len(b)
    if real:
        dims, fmt = None, None
        if b[:8] == PNG_MAGIC:
            dims, fmt = _png_dims(b), "image/png"
        elif b[:2] == b"\xff\xd8":
            dims, fmt = _jpeg_dims(b), "image/jpeg"
        elif b[:6] in (b"GIF87a", b"GIF89a"):
            dims, fmt = _gif_dims(b), "image/gif"
        elif b[:2] == b"BM":
            dims, fmt = _bmp_dims(b), "image/bmp"
        if dims:
            return {"width": dims[0], "height": dims[1],
                    "format": fmt, "n_bytes": n}
        raise NotImplementedError(
            "real header decode covers JPEG/PNG/GIF/BMP here, WAV in "
            "wav_meta_bytes, MP4/WebM in mp4_meta_bytes/webm_meta_"
            "bytes; only stream-codec PAYLOAD decode (H.264/VP9/AAC "
            "frames) remains out of scope — needs ffmpeg, not in "
            "container")
    first = b[0] if n else 0
    return {"width": 16 + (n % 240),
            "height": 16 + ((first * 7) % 240),
            "format": "stub/raw",
            "n_bytes": n}


def with_blob(documents: DataFrame) -> DataFrame:
    """Stand-in media table: treat the utf-8 text bytes as an opaque
    blob (same shape as a real (id, content binary) media table)."""
    return documents.select(
        "doc_id", F.col("text").cast("binary").alias("content"))


def _be32(c):
    return F.unhex(F.lpad(F.hex(c), 8, "0"))


def _be16(c):
    return F.unhex(F.lpad(F.hex(c), 4, "0"))


def _byte(c):
    return F.unhex(F.lpad(F.hex(c % 256), 2, "0"))


def _u16le(c):
    return F.concat(_byte(c), _byte(F.shiftright(c.cast("long"), 8)))


def _u32le(c):
    c = c.cast("long")
    return F.concat(_u16le(c % 65536), _u16le(F.shiftright(c, 16)))


def synth_image_blobs(documents: DataFrame) -> DataFrame:
    """Valid minimal image byte streams built entirely JVM-side
    (concat of binary literals + unhex'd dims) — the closed-form
    corpus for the real decode path, one format per ``doc_id % 4``:
    0 = 33-byte PNG (sig + IHDR), 1 = 17-byte JPEG (SOI + SOF0, one
    component, EOI), 2 = 14-byte GIF89a (logical screen descriptor +
    trailer), 3 = 30-byte BMP (file header + BITMAPINFOHEADER prefix).
    Dims are pure functions of doc_id that the DuckDB oracle
    recomputes."""
    d = F.col("doc_id")
    png_w, png_h = 16 + d % 240, 16 + (d * 7) % 240
    jpg_w, jpg_h = 8 + d % 500, 8 + (d * 3) % 300
    gif_w, gif_h = 4 + (d * 5) % 320, 4 + (d * 11) % 200
    bmp_w, bmp_h = 10 + d % 600, 10 + (d * 13) % 400
    png = F.concat(F.lit(PNG_MAGIC), F.lit(b"\x00\x00\x00\x0dIHDR"),
                   _be32(png_w), _be32(png_h),
                   F.lit(b"\x08\x02\x00\x00\x00"),
                   F.lit(b"\x00\x00\x00\x00"))        # CRC unchecked
    jpg = F.concat(F.lit(b"\xff\xd8\xff\xc0\x00\x0b\x08"),
                   _be16(jpg_h), _be16(jpg_w),
                   F.lit(b"\x01\x01\x11\x00\xff\xd9"))
    gif = F.concat(F.lit(b"GIF89a"), _u16le(gif_w), _u16le(gif_h),
                   F.lit(b"\x00\x00\x00\x3b"))
    bmp = F.concat(F.lit(b"BM"), _u32le(F.lit(30)),
                   F.lit(b"\x00\x00\x00\x00"), _u32le(F.lit(30)),
                   _u32le(F.lit(40)), _u32le(bmp_w), _u32le(bmp_h),
                   _u16le(F.lit(1)), _u16le(F.lit(24)))
    blob = (F.when(d % 4 == 0, png).when(d % 4 == 1, jpg)
            .when(d % 4 == 2, gif).otherwise(bmp))
    return documents.select("doc_id", blob.alias("content"))


AUDIO_META_SCHEMA = ("doc_id long, channels int, sample_rate int, "
                     "bits int, n_samples long, duration_ms long, "
                     "n_bytes long")


def wav_meta_bytes(b: bytes) -> dict | None:
    """Real WAV/RIFF metadata: walk the chunk list for ``fmt `` (PCM
    header: channels/rate/bits) and ``data`` (declared payload size).
    The declared data size is trusted even when the payload has been
    truncated away — the streaming-friendly read a 100 TB media scan
    wants (fetch 44 header bytes, never the payload).  Returns None
    for non-RIFF/WAVE input."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    channels = rate = bits = 0
    data_size = -1
    i = 12
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        sz = int.from_bytes(b[i + 4:i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(b):
            channels = int.from_bytes(b[i + 10:i + 12], "little")
            rate = int.from_bytes(b[i + 12:i + 16], "little")
            bits = int.from_bytes(b[i + 22:i + 24], "little")
        elif cid == b"data":
            data_size = sz
        i += 8 + sz + (sz & 1)        # chunks are word-aligned
    if not (channels and rate and bits) or data_size < 0:
        return None
    block = channels * (bits // 8)
    n_samples = data_size // block if block else 0
    return {"channels": channels, "sample_rate": rate, "bits": bits,
            "n_samples": n_samples,
            "duration_ms": n_samples * 1000 // rate,
            "n_bytes": len(b)}


def synth_wav_blobs(documents: DataFrame) -> DataFrame:
    """Valid 44-byte canonical WAV headers (RIFF + fmt + data chunk
    declaration, payload elided) built JVM-side; every field is a
    closed-form function of doc_id so the DuckDB oracle recomputes the
    decoded metadata without touching bytes: channels = 1 + d%2,
    rate = 8000 + (d%5)*4000, 16-bit PCM, n_samples = 1 + d%441."""
    d = F.col("doc_id")
    channels = (1 + d % 2).cast("long")
    rate = (8000 + (d % 5) * 4000).cast("long")
    n_samples = (1 + d % 441).cast("long")
    block = channels * 2
    data_size = (n_samples * block).cast("long")
    byte_rate = (rate * block).cast("long")
    wav = F.concat(
        F.lit(b"RIFF"), _u32le(data_size + 36), F.lit(b"WAVE"),
        F.lit(b"fmt "), _u32le(F.lit(16)), _u16le(F.lit(1)),
        _u16le(channels), _u32le(rate), _u32le(byte_rate),
        _u16le(block), _u16le(F.lit(16)),
        F.lit(b"data"), _u32le(data_size))
    return documents.select("doc_id", wav.alias("content"))


def audio_meta(media: DataFrame) -> DataFrame:
    """(doc_id, channels, sample_rate, bits, n_samples, duration_ms,
    n_bytes) via :func:`map_rows` over the binary column — same
    plumbing shape as :func:`image_meta`, real RIFF parse;
    undecodable blobs drop."""

    def row(doc_id, blob):
        m = wav_meta_bytes(blob)
        if m is not None:
            yield (doc_id, m["channels"], m["sample_rate"], m["bits"],
                   m["n_samples"], m["duration_ms"], m["n_bytes"])

    return map_rows(media.select("doc_id", "content"), row,
                    AUDIO_META_SCHEMA)


def image_meta(media: DataFrame, real: bool = False) -> DataFrame:
    """(doc_id, width, height, n_pixels, format, n_bytes) via
    :func:`map_rows` over the binary column.  With ``real=True`` a
    blob :func:`decode_bytes` cannot decode drops its row instead of
    failing the job."""

    def row(doc_id, blob):
        try:
            m = decode_bytes(blob, real=real)
        except NotImplementedError:
            return
        yield (doc_id, m["width"], m["height"], m["width"] * m["height"],
               m["format"], m["n_bytes"])

    return map_rows(media.select("doc_id", "content"), row,
                    IMAGE_META_SCHEMA)


def sample_frames(media: DataFrame, fps: float = 2.0) -> DataFrame:
    """Frame-sampling UDTF shape: one input blob -> n_frames rows
    (n_frames = 1 + n_bytes % 4 in the stub), emitted from the same
    Arrow pass.  frame_md5 fingerprints the sampled "frame" slice."""
    import hashlib

    def row(doc_id, b):
        n_frames = 1 + len(b) % 4
        for i in range(n_frames):
            yield (doc_id, i, i / fps,
                   hashlib.md5(b[i::n_frames][:64]).hexdigest())

    return map_rows(media.select("doc_id", "content"), row, FRAME_SCHEMA)


# ------------------------------------------------------------- dHash

DHASH_W, DHASH_H = 9, 7          # 8 comparisons x 7 rows = 56 bits
GRAY_MAGIC = b"GRAY"


def synth_gray_blobs(documents: DataFrame) -> DataFrame:
    """Deterministic raw grayscale rasters as binary blobs (the
    resize-to-9x7 step of a real pHash pipeline is where the image
    decoder would sit; here the corpus is BORN at hash resolution so
    the perceptual-hash kernel itself is real).  Container format:
    ``GRAY`` magic, width byte, height byte, then row-major pixels.

    Pixels are a closed-form function of doc_id that the oracle
    recomputes: base = doc_id // 2 picks the pattern via a Knuth-
    multiplicative mix b2 = base * 2654435761 mod 1048573, cell value
    (b2 * (i+1)(i+2)(i+5) + base + i) mod 509 mod 256 — the cubic
    per-cell multiplier decorrelates cells within a base and b2
    decorrelates bases (unrelated images land near the expected
    Hamming distance 28); every intermediate stays ~2^38, far inside
    BIGINT for both engines.  Odd doc_ids
    additionally spike ONE cell (index base % 63) by +128 — so each
    (2k, 2k+1) pair is a planted near-duplicate at Hamming distance
    <= 2."""
    d = F.col("doc_id").cast("long")
    base = F.floor(d / 2).cast("long")
    b2 = (base * 2654435761) % 1048573
    px = []
    for r in range(DHASH_H):
        for c in range(DHASH_W):
            i = r * DHASH_W + c
            ci = (i + 1) * (i + 2) * (i + 5)
            p = ((b2 * F.lit(ci) + base + F.lit(i)) % 509 % 256
                 + (d % 2) * F.when(base % 63 == i, 128).otherwise(0))
            px.append(_byte(p))
    blob = F.concat(F.lit(GRAY_MAGIC), _byte(F.lit(DHASH_W)),
                    _byte(F.lit(DHASH_H)), *px)
    return documents.select("doc_id", blob.alias("content"))


def gray_dhash_bytes(b: bytes) -> int | None:
    """Difference hash (dHash) of a GRAY raster: bit (r, c) is set
    iff pixel (r, c) > pixel (r, c+1); packed at position r*8 + c.
    56 bits — stays in the positive BIGINT range both engines share.
    Returns None for non-GRAY or truncated input."""
    if len(b) < 6 or b[:4] != GRAY_MAGIC:
        return None
    w, h = b[4], b[5]
    if len(b) < 6 + w * h or w < 2:
        return None
    px = b[6:6 + w * h]
    bits = 0
    for r in range(h):
        row = px[r * w:(r + 1) * w]
        for c in range(w - 1):
            if row[c] > row[c + 1]:
                bits |= 1 << (r * (w - 1) + c)
    return bits


def image_dhash(media: DataFrame) -> DataFrame:
    """(doc_id, dhash) via :func:`map_rows` — the same plumbing shape
    as :func:`image_meta`, real byte-level kernel.  Undecodable blobs
    are dropped (the quarantine discipline)."""

    def row(doc_id, blob):
        hv = gray_dhash_bytes(blob)
        if hv is not None:
            yield (doc_id, hv)

    return map_rows(media.select("doc_id", "content"), row,
                    "doc_id long, dhash long")


def dhash_hamming_pairs(hashes: DataFrame, bands: int = 4,
                        band_bits: int = 14,
                        max_distance: int = 6) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming LSH over dHash:
    slice the 56-bit hash into ``bands`` contiguous ``band_bits``-bit
    bands, join candidates on (band index, band value) equality, then
    verify bit_count(xor) <= ``max_distance``.  Pigeonhole guarantee:
    any pair within distance < ``bands`` MUST agree on at least one
    band — recall 1.0 for the planted distance-2 pairs; beyond that
    it degrades exactly like MinHash banding (dedup.py's shape).

    Scale: the self-join is keyed on band buckets (never all-pairs);
    a band whose value is shared by k images fans out k^2 — the same
    hot-bucket profile as minhash_band_pairs, and the same remedy
    would apply (bucket-size cap).  Verification is one JVM-side
    bit_count per candidate.

    Returns (doc_a, doc_b, distance), doc_a < doc_b, distinct."""
    sliced = hashes.select(
        "doc_id", "dhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     (F.shiftright("dhash", i * band_bits)
                      % (1 << band_bits)).alias("val"))
            for i in range(bands)])).alias("b"))
    lhs = sliced.select(F.col("b.band").alias("band"),
                        F.col("b.val").alias("val"),
                        F.col("doc_id").alias("doc_a"),
                        F.col("dhash").alias("ha"))
    rhs = sliced.select(F.col("b.band").alias("band"),
                        F.col("b.val").alias("val"),
                        F.col("doc_id").alias("doc_b"),
                        F.col("dhash").alias("hb"))
    cand = (lhs.join(rhs, ["band", "val"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                    .alias("distance"))
            .distinct())
    return cand.where(F.col("distance") <= max_distance)


def sniff_mime(col):
    """Magic-byte MIME detection as a pure column-expression chain —
    the content-type triage step a crawl pipeline runs on fetched
    bytes BEFORE trusting the server's Content-Type header (servers
    lie; bytes don't).  Detects the formats the rest of this module
    and the doc readers consume: JPEG/PNG/GIF/WebP images, RIFF/WAV
    audio, PDF, gzip, zip, OLE2 compound files (legacy ``.doc`` —
    :mod:`..docbinary`), XML, and HTML (the common literal preambles
    ``<!DOCTYPE``/``<!doctype``/``<html``/``<HTML`` — binary compare
    only, so no decode can throw on malformed bytes).  Everything
    else is ``application/octet-stream``.

    JVM-side, no UDF, one scan: at 100 TB this is a projection."""
    def pre(n):
        return F.substring(col, 1, n)

    riff_kind = F.substring(col, 9, 4)
    return (
        F.when(pre(3) == F.lit(b"\xff\xd8\xff"), "image/jpeg")
        .when(pre(8) == F.lit(b"\x89PNG\r\n\x1a\n"), "image/png")
        .when((pre(6) == F.lit(b"GIF87a"))
              | (pre(6) == F.lit(b"GIF89a")), "image/gif")
        .when((pre(4) == F.lit(b"RIFF"))
              & (riff_kind == F.lit(b"WAVE")), "audio/wav")
        .when((pre(4) == F.lit(b"RIFF"))
              & (riff_kind == F.lit(b"WEBP")), "image/webp")
        .when(pre(4) == F.lit(b"%PDF"), "application/pdf")
        .when(pre(2) == F.lit(b"\x1f\x8b"), "application/gzip")
        .when(pre(4) == F.lit(b"PK\x03\x04"), "application/zip")
        .when(pre(8) == F.lit(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"),
              "application/x-ole-storage")
        .when(pre(5) == F.lit(b"<?xml"), "application/xml")
        .when((pre(9) == F.lit(b"<!DOCTYPE"))
              | (pre(9) == F.lit(b"<!doctype"))
              | (pre(5) == F.lit(b"<html"))
              | (pre(5) == F.lit(b"<HTML")), "text/html")
        .otherwise("application/octet-stream"))


# ------------------------------------------------------------- EXIF

EXIF_META_SCHEMA = ("doc_id long, width int, height int, "
                    "orientation int, x_resolution int, "
                    "datetime_original string, n_bytes long")

_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def exif_meta_bytes(b: bytes) -> dict | None:
    """Real EXIF metadata parse, dependency-free: walk the JPEG
    segment chain to APP1/Exif, read the TIFF header (both II and MM
    endiannesses), walk IFD0 resolving inline-vs-offset values per
    the TIFF 6.0 entry rules, and surface the five tags an image
    ingest pipeline keys on: ImageWidth (0x0100), ImageLength
    (0x0101), Orientation (0x0112 — the rotate-before-decode bit),
    XResolution (0x011A rational), DateTime (0x0132 ASCII).
    Returns None for non-JPEG / no-EXIF blobs (quarantine row)."""
    import struct
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i, tiff = 2, None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            break
        marker = b[i + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
        seg = b[i + 4:i + 2 + seglen]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            tiff = seg[6:]
            break
        i += 2 + seglen
    if tiff is None or len(tiff) < 8:
        return None
    e = {b"II": "<", b"MM": ">"}.get(tiff[:2])
    if e is None or struct.unpack(e + "H", tiff[2:4])[0] != 42:
        return None
    off = struct.unpack(e + "I", tiff[4:8])[0]
    if off + 2 > len(tiff):
        return None
    n = struct.unpack(e + "H", tiff[off:off + 2])[0]
    vals = {}
    for k in range(n):
        ent = tiff[off + 2 + 12 * k:off + 14 + 12 * k]
        if len(ent) < 12:
            break
        tag, typ, cnt = struct.unpack(e + "HHI", ent[:8])
        size = _TIFF_TYPE_SIZE.get(typ, 0) * cnt
        if size == 0:
            continue
        if size <= 4:
            raw = ent[8:8 + size]
        else:
            voff = struct.unpack(e + "I", ent[8:12])[0]
            raw = tiff[voff:voff + size]
            if len(raw) < size:
                continue
        if typ == 3:
            vals[tag] = struct.unpack(e + "H", raw[:2])[0]
        elif typ == 4:
            vals[tag] = struct.unpack(e + "I", raw[:4])[0]
        elif typ == 5:
            vals[tag] = struct.unpack(e + "II", raw[:8])
        elif typ == 2:
            vals[tag] = raw.split(b"\x00")[0].decode("ascii",
                                                     "replace")
    if not vals:
        return None
    xr = vals.get(0x011A)
    return {"width": vals.get(0x0100), "height": vals.get(0x0101),
            "orientation": vals.get(0x0112),
            "x_resolution": (xr[0] // xr[1])
            if isinstance(xr, tuple) and xr[1] else None,
            "datetime_original": vals.get(0x0132),
            "n_bytes": len(b)}


def synth_exif_blobs(documents: DataFrame) -> DataFrame:
    """Valid JPEG+APP1/EXIF byte streams built entirely JVM-side:
    SOI + APP1("Exif\\0\\0" + little-endian TIFF with a 5-entry IFD0:
    ImageWidth/ImageLength LONG inline, Orientation SHORT inline with
    pad, XResolution RATIONAL at offset 74, DateTime ASCII(20) at
    offset 82) + EOI — 116 bytes, every field a pure function of
    doc_id that the DuckDB oracle recomputes."""
    d = F.col("doc_id")
    w, h = 32 + d % 480, 24 + (d * 3) % 360
    orient, xres = 1 + d % 8, 72 + d % 228
    hh, mi, ss = d % 24, (d * 7) % 60, (d * 13) % 60
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    dt = F.concat(F.lit("2020:01:01 "), two(hh), F.lit(":"),
                  two(mi), F.lit(":"), two(ss))

    def entry(tag, typ, cnt, val):
        return F.concat(_u16le(F.lit(tag)), _u16le(F.lit(typ)),
                        _u32le(F.lit(cnt)), val)

    ifd = F.concat(
        _u16le(F.lit(5)),
        entry(0x0100, 4, 1, _u32le(w)),
        entry(0x0101, 4, 1, _u32le(h)),
        entry(0x0112, 3, 1, F.concat(_u16le(orient),
                                     _u16le(F.lit(0)))),
        entry(0x011A, 5, 1, _u32le(F.lit(74))),
        entry(0x0132, 2, 20, _u32le(F.lit(82))),
        _u32le(F.lit(0)),
        _u32le(xres), _u32le(F.lit(1)),
        F.encode(dt, "UTF-8"), F.lit(b"\x00"))
    tiff = F.concat(F.lit(b"II\x2a\x00"), _u32le(F.lit(8)), ifd)
    app1 = F.concat(F.lit(b"\xff\xe1"), _be16(F.lit(110)),
                    F.lit(b"Exif\x00\x00"), tiff)
    blob = F.concat(F.lit(b"\xff\xd8"), app1, F.lit(b"\xff\xd9"))
    return documents.select("doc_id", blob.alias("content"))


def exif_meta(media: DataFrame) -> DataFrame:
    """(doc_id, width, height, orientation, x_resolution,
    datetime_original, n_bytes) via :func:`map_rows` — same plumbing
    as :func:`image_meta`/:func:`audio_meta`, real TIFF/IFD walk, no
    shuffle; undecodable blobs drop (quarantine)."""

    def row(doc_id, blob):
        m = exif_meta_bytes(blob)
        if m is not None:
            yield (doc_id, m["width"], m["height"], m["orientation"],
                   m["x_resolution"], m["datetime_original"], m["n_bytes"])

    return map_rows(media.select("doc_id", "content"), row,
                    EXIF_META_SCHEMA)


# ------------------------------------------- image-text pair mining

IMG_ALT_SCHEMA = ("url string, img_idx int, img_src string, "
                  "alt_text string, n_alt_words int, kept boolean")

# LAION-style exact-match boilerplate alts (full-string match)
ALT_STOPLIST = frozenset({
    "logo", "icon", "image", "photo", "picture", "banner",
    "thumbnail", "spacer", "stock photo", "no image available"})


def image_text_pairs(pages: DataFrame, min_words: int = 2) -> DataFrame:
    """CLIP/LAION-style image-text pair mining from page HTML: a real
    DOM walk (the same parser as the extract stage) emits every
    ``<img>`` in document order with its src and alt, plus the
    LAION-5B-style quality gate: keep pairs whose alt has at least
    ``min_words`` whitespace tokens and isn't an exact boilerplate
    string (ALT_STOPLIST).  Dropped pairs stay in the table with
    ``kept = false`` — no silent filtering; the downstream join
    against the media store selects on the flag.

    Arrow-batched map-only pass (no shuffle); at corpus scale the
    output co-partitions with the page scan and the (img_src) join
    to the blob store is the only exchange."""

    from ..htmlelements import decode_html, parse_html

    def row(url, raw):
        stack, imgs = [parse_html(decode_html(raw))], []
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                continue
            if node.tag == "img":
                imgs.append(node)
            stack.extend(reversed(node.children))
        for idx, img in enumerate(imgs):
            alt = img.attrs.get("alt")
            words = alt.split() if alt else []
            kept = (len(words) >= min_words
                    and (alt or "").strip().lower() not in ALT_STOPLIST)
            yield (url, idx, img.attrs.get("src"), alt, len(words), kept)

    return map_rows(pages.select("url", "html"), row, IMG_ALT_SCHEMA)


# ------------------------------------------------ video shot detect

def synth_frame_blobs(documents: DataFrame) -> DataFrame:
    """Deterministic frame sequences: 4 + doc_id % 3 GRAY frames per
    doc, frames 0-1 render pattern A and frames >= 2 pattern B (a
    planted hard cut), where pattern(base) is the same Knuth-mix
    closed form as synth_gray_blobs minus the near-dup spike, with
    base = doc_id * 2 + shot.  Frames within a shot are identical;
    the cross-cut Hamming distance is whatever the two patterns'
    real dHashes differ by — the oracle recomputes it bit for bit."""
    d = F.col("doc_id").cast("long")
    k = F.col("frame_idx")
    base = d * 2 + F.when(k >= 2, 1).otherwise(0)
    b2 = (base * 2654435761) % 1048573
    px = []
    for r in range(DHASH_H):
        for c in range(DHASH_W):
            i = r * DHASH_W + c
            ci = (i + 1) * (i + 2) * (i + 5)
            px.append(_byte((b2 * F.lit(ci) + base + F.lit(i))
                            % 509 % 256))
    blob = F.concat(F.lit(GRAY_MAGIC), _byte(F.lit(DHASH_W)),
                    _byte(F.lit(DHASH_H)), *px)
    return (documents
            .select("doc_id",
                    F.explode(F.sequence(
                        F.lit(0), (F.lit(3) + d % 3).cast("int")))
                    .alias("frame_idx"))
            .select("doc_id", "frame_idx", blob.alias("content")))


def shot_boundaries(frames: DataFrame,
                    threshold: int = 6) -> DataFrame:
    """Shot-boundary detection over a frame sequence: perceptual
    dHash per frame (real byte kernel, Arrow pass), then the
    consecutive-frame Hamming distance per video — a hard cut is a
    distance spike above ``threshold``, the classic
    histogram/hash-difference detector video ingest pipelines run
    before keyframe extraction.  Frame 0 always opens a shot
    (NULL distance).

    Shape: the hash pass is map-only (blobs pruned immediately, 8
    bytes per frame survive); the lag is ONE video-keyed window —
    per-video frame counts bound the sort.  Returns (doc_id,
    frame_idx, dhash, distance, is_boundary)."""
    from pyspark.sql import Window

    def row(doc_id, idx, blob):
        h = gray_dhash_bytes(blob)
        if h is not None:
            yield (doc_id, idx, h)

    hashed = map_rows(frames.select("doc_id", "frame_idx", "content"), row,
                      "doc_id long, frame_idx int, dhash long")
    w = Window.partitionBy("doc_id").orderBy(F.col("frame_idx").asc())
    prev = F.lag("dhash").over(w)
    dist = F.when(prev.isNotNull(),
                  F.bit_count(F.col("dhash").bitwiseXOR(prev))
                  .cast("long"))
    return hashed.select(
        "doc_id", "frame_idx", "dhash", dist.alias("distance"),
        F.coalesce(dist > threshold, F.lit(True)).alias("is_boundary"))


# ------------------------------------------------------- video headers

VIDEO_META_SCHEMA = ("doc_id long, container string, timescale long, "
                     "duration_ms long, width int, height int, "
                     "n_bytes long")


def mp4_meta_bytes(b: bytes) -> dict | None:
    """Real ISO-BMFF (MP4/MOV) header metadata, dependency-free: walk
    the top-level box list for ``moov``, read ``mvhd`` (timescale +
    duration; version 0 and 1 layouts) and the first ``trak``'s
    ``tkhd`` 16.16 fixed-point presentation width/height.  Only the
    header boxes are touched — the ``mdat`` payload is never read,
    the same fetch-the-first-few-KB discipline as :func:`wav_meta
    _bytes` (a 100 TB video scan reads headers, not streams).
    Boxes with an empty body (a blob truncated right after a box
    header) are skipped.  Returns None for non-BMFF input."""
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    timescale = duration = None
    width = height = None

    def walk(lo: int, hi: int, depth: int = 0):
        nonlocal timescale, duration, width, height
        i = lo
        while i + 8 <= hi:
            sz = int.from_bytes(b[i:i + 4], "big")
            typ = b[i + 4:i + 8]
            if sz == 1 and i + 16 <= hi:     # 64-bit largesize
                sz = int.from_bytes(b[i + 8:i + 16], "big")
            if sz < 8 or i + sz > hi:
                return
            c = i + 8
            if c == i + sz:                  # bare header, empty body
                i += sz
                continue
            if typ in (b"moov", b"trak", b"mdia") and depth < 4:
                walk(c, i + sz, depth + 1)
            elif typ == b"mvhd" and timescale is None:
                ver = b[c]
                if ver == 1 and c + 32 <= hi:
                    timescale = int.from_bytes(b[c + 20:c + 24], "big")
                    duration = int.from_bytes(b[c + 24:c + 32], "big")
                elif c + 20 <= hi:
                    timescale = int.from_bytes(b[c + 12:c + 16], "big")
                    duration = int.from_bytes(b[c + 16:c + 20], "big")
            elif typ == b"tkhd" and width is None:
                ver = b[c]
                off = c + (88 if ver == 1 else 76)
                if off + 8 <= hi:
                    width = int.from_bytes(b[off:off + 4], "big") >> 16
                    height = int.from_bytes(b[off + 4:off + 8],
                                            "big") >> 16
            i += sz

    walk(0, len(b))
    if not timescale:
        return None
    return {"container": "mp4", "timescale": timescale,
            "duration_ms": (duration or 0) * 1000 // timescale,
            "width": width or 0, "height": height or 0,
            "n_bytes": len(b)}


_EBML_SEGMENT = 0x18538067
_EBML_INFO = 0x1549A966
_EBML_TRACKS = 0x1654AE6B
_EBML_TRACKENTRY = 0xAE
_EBML_VIDEO = 0xE0
_EBML_MASTERS = {_EBML_SEGMENT, _EBML_INFO, _EBML_TRACKS,
                 _EBML_TRACKENTRY, _EBML_VIDEO}


def _vint(b: bytes, i: int, keep_marker: bool):
    """EBML variable-length integer at offset i -> (value, next_i);
    element IDs keep the length-marker bit, sizes strip it.  An
    all-ones size is the spec's 'unknown size' -> None value."""
    if i >= len(b) or b[i] == 0:
        return None, i
    ln = 8 - b[i].bit_length() + 1
    if i + ln > len(b):
        return None, i
    v = int.from_bytes(b[i:i + ln], "big")
    if not keep_marker:
        marker = 1 << (7 * ln)
        v &= marker - 1
        if v == marker - 1:            # VINT_DATA all ones: unknown
            return None, i + ln
    return v, i + ln


def webm_meta_bytes(b: bytes) -> dict | None:
    """Real WebM/Matroska header metadata, dependency-free: minimal
    EBML walk into Segment -> Info (TimecodeScale 0x2AD7B1 in ns,
    default 1_000_000; Duration 0x4489, float32/64 in timescale
    units) and Segment -> Tracks -> TrackEntry -> Video (PixelWidth
    0xB0 / PixelHeight 0xBA).  Unknown-size Segments (streamed
    files) span the rest of the buffer per the spec.  Returns None
    unless the EBML magic 0x1A45DFA3 opens the buffer."""
    import struct
    if len(b) < 4 or b[:4] != b"\x1a\x45\xdf\xa3":
        return None
    scale, dur, width, height = 1000000, None, None, None

    def walk(lo: int, hi: int, depth: int = 0):
        nonlocal scale, dur, width, height
        i = lo
        while i < hi:
            eid, j = _vint(b, i, keep_marker=True)
            if eid is None:
                return
            sz, k = _vint(b, j, keep_marker=False)
            end = hi if sz is None else min(hi, k + sz)
            if eid in _EBML_MASTERS and depth < 5:
                walk(k, end, depth + 1)
            elif eid == 0x2AD7B1:
                scale = int.from_bytes(b[k:end], "big")
            elif eid == 0x4489:
                raw = b[k:end]
                if len(raw) == 4:
                    dur = struct.unpack(">f", raw)[0]
                elif len(raw) == 8:
                    dur = struct.unpack(">d", raw)[0]
            elif eid == 0xB0:
                width = int.from_bytes(b[k:end], "big")
            elif eid == 0xBA:
                height = int.from_bytes(b[k:end], "big")
            if sz is None:
                return
            i = end

    # skip the EBML header element itself, then walk the rest
    _, j = _vint(b, 0, keep_marker=True)
    sz, k = _vint(b, j, keep_marker=False)
    walk(k + (sz or 0), len(b))
    if dur is None and width is None:
        return None
    # one timescale unit = `scale` ns; ms = units * scale / 1e6
    duration_ms = (int(dur * (scale / 1000000.0))
                   if dur is not None else 0)
    return {"container": "webm", "timescale": scale,
            "duration_ms": duration_ms,
            "width": width or 0, "height": height or 0,
            "n_bytes": len(b)}


def synth_video_blobs(documents: DataFrame) -> DataFrame:
    """Closed-form minimal video containers built JVM-side (concat of
    binary literals + unhex'd big-endian ints), alternating by
    doc_id: even -> ISO-BMFF (ftyp + moov[mvhd(v0) + trak[tkhd]]),
    odd -> WebM (EBML header + Segment[Info[TimecodeScale, Duration
    f32] + Tracks[TrackEntry[Video[PixelWidth, PixelHeight]]]]).
    Durations/dims are pure functions of doc_id the oracle restates.
    The f32 Duration is bit-assembled with integer exponent/mantissa
    arithmetic (values < 2^24, exactly representable)."""
    d = F.col("doc_id")
    ts = F.lit(1000)
    dur_units = (5000 + (d * 37) % 60000).cast("long")   # ms @ ts=1000
    w = (160 + d % 1760).cast("long")
    h = (120 + (d * 3) % 960).cast("long")
    # --- MP4: sizes fixed (mvhd content 100B zero-padded, tkhd 84B)
    mvhd = F.concat(_be32(F.lit(108)), F.lit(b"mvhd"),
                    F.lit(b"\x00\x00\x00\x00"),          # v0 + flags
                    _be32(F.lit(0)), _be32(F.lit(0)),    # ctime mtime
                    _be32(ts), _be32(dur_units),
                    F.lit(b"\x00" * 80))
    tkhd = F.concat(_be32(F.lit(92)), F.lit(b"tkhd"),
                    F.lit(b"\x00\x00\x00\x00"),
                    F.lit(b"\x00" * 72),
                    _be32(F.shiftleft(w, 16)),
                    _be32(F.shiftleft(h, 16)))
    trak = F.concat(_be32(F.lit(100)), F.lit(b"trak"), tkhd)
    moov = F.concat(_be32(F.lit(216)), F.lit(b"moov"), mvhd, trak)
    mp4 = F.concat(F.lit(b"\x00\x00\x00\x10ftypisom"),
                   F.lit(b"\x00\x00\x02\x00"), moov)
    # --- WebM: f32 duration bits from integer exponent/mantissa
    v = dur_units
    e = F.floor(F.log2(v)).cast("long")
    # 2^(23-e) via double pow: exponent range 7..14 here, product
    # < 2^40 — exactly representable, so the cast back is exact
    mant = ((v.cast("double") * F.pow(F.lit(2.0),
                                      (F.lit(23) - e).cast("double")))
            .cast("long") - F.lit(1 << 23))
    f32 = _be32(F.shiftleft(e + 127, 23) + mant)
    # Info content = TimecodeScale(3+1+4) + Duration(2+1+4) = 15 B
    info = F.concat(
        F.lit(bytes.fromhex("1549a966")), F.lit(b"\x8f"),
        F.lit(bytes.fromhex("2ad7b1")), F.lit(b"\x84"),
        _be32(F.lit(1000000)),                                 # ns
        F.lit(bytes.fromhex("4489")), F.lit(b"\x84"), f32)
    video = F.concat(F.lit(b"\xe0"), F.lit(b"\x88"),
                     F.lit(b"\xb0"), F.lit(b"\x82"),
                     _be16(w), F.lit(b"\xba"), F.lit(b"\x82"),
                     _be16(h))
    tracks = F.concat(F.lit(bytes.fromhex("1654ae6b")),
                      F.lit(b"\x8c"),
                      F.lit(b"\xae"), F.lit(b"\x8a"), video)
    seg_len = 20 + 17                # info(4+1+15) + tracks(4+1+12)
    webm = F.concat(
        F.lit(bytes.fromhex("1a45dfa3")), F.lit(b"\x84"),
        F.lit(b"\x42\x86\x81\x01"),                  # EBMLVersion 1
        F.lit(bytes.fromhex("18538067")),
        F.lit(bytes([0x80 | seg_len])), info, tracks)
    blob = F.when(d % 2 == 0, mp4).otherwise(webm)
    return documents.select("doc_id", blob.alias("content"))


def video_meta(media: DataFrame) -> DataFrame:
    """Per-blob video container metadata over (doc_id, content):
    MP4 via :func:`mp4_meta_bytes`, WebM via :func:`webm_meta_bytes`;
    genuinely-undecodable containers (AVI/FLV/stream codecs — no
    ffmpeg here) are dropped, same contract as the other header
    readers.  One :func:`map_rows` pass, header-only reads."""
    def row(doc_id, raw):
        m = mp4_meta_bytes(raw) or webm_meta_bytes(raw)
        if m:
            yield (doc_id, m["container"], m["timescale"],
                   m["duration_ms"], m["width"], m["height"], m["n_bytes"])

    return map_rows(media.select("doc_id", "content"), row,
                    VIDEO_META_SCHEMA)
