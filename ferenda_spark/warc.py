"""WARC (Web ARChive, ISO 28500) ingestion — the container format
Common-Crawl publishes, i.e. the on-disk form of this engine's input
table before it is staged to Iceberg (BASELINE input_hint: pages =
``(url, warc_ts, html, text, lang)``).

Dependency-free reader for the two layouts crawls actually ship:

* plain ``.warc`` — WARC/1.0 records concatenated, each a CRLF header
  block, ``Content-Length`` payload bytes, then a CRLF CRLF separator;
* ``.warc.gz`` — one gzip MEMBER PER RECORD (the Common-Crawl layout;
  members are concatenated, and streaming readers rely on the
  per-record framing to split work).

Spark shape: WARC files are not block-splittable (records are
variable-length and the gzip members aren't indexed), so — exactly
like cc-pyspark's processing model — the unit of parallelism is the
FILE: ``read_warc`` lists files via the binaryFile source and each
Arrow task walks its files' records with :func:`iter_warc`.  At
Common-Crawl scale a segment is ~1 GiB and a crawl is ~64k files, so
file-granular parallelism saturates any executor count; the payload
column is pruned immediately after extraction (same discipline as
``operators/multimodal.py``).

The mirror writer :func:`build_warc` exists for fixtures and the
closed-form driver oracle (``warc_pages``): synthesized records
roundtrip byte-exactly through the reader.

Reference parity note: the reference ingests documents one HTTP fetch
at a time (``documentrepository.py`` download paths); a web-scale run
ingests the same bytes from crawl archives instead — this module is
that source, not a port.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from .rowmap import map_rows

CRLF = b"\r\n"

RECORDS_SCHEMA = ("warc_file string, record_idx int, warc_type string, "
                  "url string, warc_ts string, http_status int, "
                  "content_type string, payload binary")


def _split_members(data: bytes) -> Iterator[bytes]:
    """Yield decompressed gzip members from concatenated-member data
    (the .warc.gz layout), or the data itself when not gzipped."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    pos = 0
    while pos < len(data):
        if data[pos:pos + 2] != b"\x1f\x8b":
            break
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        yield d.decompress(data[pos:])
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def _parse_records(data: bytes) -> Iterator[dict]:
    """Walk WARC/1.0 records in a decompressed byte stream."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        if not data[pos:pos + 5] == b"WARC/":
            raise ValueError("not a WARC record at offset %d" % pos)
        hdr_end = data.index(CRLF + CRLF, pos)
        headers = {}
        lines = data[pos:hdr_end].split(CRLF)
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii")] = \
                v.strip().decode("utf-8", "replace")
        length = int(headers.get("content-length", "0"))
        body_start = hdr_end + 4
        yield {"headers": headers,
               "version": lines[0].decode("ascii"),
               "block": data[body_start:body_start + length]}
        pos = body_start + length


def _split_http(block: bytes):
    """(status, content_type, payload) from an HTTP response block."""
    sep = block.find(CRLF + CRLF)
    if sep < 0 or not block[:5] == b"HTTP/":
        return None, None, block
    head = block[:sep].split(CRLF)
    try:
        status = int(head[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("ascii", "replace")
    return status, ctype, block[sep + 4:]


def iter_warc(data: bytes) -> Iterator[dict]:
    """Yield parsed records — ``warc_type``, ``url``, ``warc_ts``,
    ``http_status``, ``content_type``, ``payload`` — from raw
    ``.warc`` or per-record-gzipped ``.warc.gz`` bytes."""
    for member in _split_members(data):
        for rec in _parse_records(member):
            h = rec["headers"]
            wtype = h.get("warc-type", "")
            status, ctype, payload = (None, h.get("content-type"),
                                      rec["block"])
            if wtype == "response":
                status, ctype, payload = _split_http(rec["block"])
            yield {"warc_type": wtype,
                   "url": h.get("warc-target-uri"),
                   "warc_ts": h.get("warc-date"),
                   "http_status": status,
                   "content_type": ctype,
                   "payload": payload}


def build_warc(records: list[dict], gzip_per_record: bool = False) -> bytes:
    """Mirror writer: serialize records (dicts with ``warc_type``,
    ``url``, ``warc_ts``, ``payload``, optional ``http_status`` /
    ``content_type``) to WARC/1.0 bytes; ``gzip_per_record`` produces
    the Common-Crawl one-member-per-record .warc.gz layout."""
    out = io.BytesIO()
    for r in records:
        block = r["payload"]
        if r.get("warc_type", "response") == "response":
            status = r.get("http_status", 200)
            ctype = r.get("content_type", "text/html")
            block = (b"HTTP/1.1 %d OK" % status + CRLF
                     + b"Content-Type: " + ctype.encode("ascii") + CRLF
                     + CRLF + block)
        head = [b"WARC/1.0",
                b"WARC-Type: " + r.get("warc_type",
                                       "response").encode("ascii"),
                b"WARC-Target-URI: " + r["url"].encode("ascii"),
                b"WARC-Date: " + r["warc_ts"].encode("ascii"),
                b"Content-Length: %d" % len(block)]
        rec = CRLF.join(head) + CRLF + CRLF + block + CRLF + CRLF
        out.write(gzip.compress(rec, mtime=0) if gzip_per_record
                  else rec)
    return out.getvalue()


def warc_records(files: DataFrame, file_col: str = "path",
                 content_col: str = "content") -> DataFrame:
    """(file, binary content) -> one row per WARC record, payload
    included — one ``rowmap.map_rows`` pass (per-file parallelism;
    downstream projections prune the payload column)."""
    def row(fname, blob):
        for i, rec in enumerate(iter_warc(blob)):
            yield (fname, i, rec["warc_type"], rec["url"], rec["warc_ts"],
                   rec["http_status"], rec["content_type"], rec["payload"])

    return map_rows(files.select(file_col, content_col), row, RECORDS_SCHEMA)


def pages_from_warc(records: DataFrame) -> DataFrame:
    """WARC records -> the engine's input-table shape
    ``(url, warc_ts, html, text, lang)`` (input_hint): successful HTML
    response records only; ``text``/``lang`` are NULL at ingest and
    filled by the extraction stage."""
    return (records
            .where((F.col("warc_type") == "response")
                   & (F.col("http_status") == 200)
                   & F.col("content_type").startswith("text/html"))
            .select("url",
                    F.to_timestamp("warc_ts",
                                   "yyyy-MM-dd'T'HH:mm:ss'Z'")
                    .alias("warc_ts"),
                    F.col("payload").alias("html"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang")))


def read_warc(spark, path: str) -> DataFrame:
    """List ``.warc``/``.warc.gz`` files under ``path`` (binaryFile
    source: file-granular splits, the WARC parallelism unit) and parse
    them to records."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("path", "content"))
    return warc_records(files)
