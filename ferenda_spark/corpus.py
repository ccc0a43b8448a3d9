"""Deterministic synthetic `pages` corpus (the BASELINE.json input_hint
shape: url, warc_ts, html, text, lang) derived from the driver's
`documents` table.

Every planted fact is a closed-form function of ``doc_id`` so the
DuckDB oracle can compute the *expected* triples with plain SQL while
the Spark pipeline recovers them by actually parsing the HTML
(mirroring the reference's golden-fixture strategy,
test/examplerepos.py + test/files/repo/rfc — see SURVEY.md §5).

Closed-form design (all SQL-expressible):

  url            = https://example.org/docs/{source}/{doc_id}
  doc uri        = https://example.org/res/doc/{doc_id}
  warc_ts        = 2024-01-01 00:00:00 + doc_id minutes
  title          = Document {doc_id}
  identifier     = {source}-{doc_id}
  publisher id   = doc_id % 7      -> uri https://example.org/res/org/pub{p}
  issued         = 2020-01-01 + (doc_id*37 % 1461) days
  subject        = topic{doc_id % 11}
  entity id      = doc_id % 50     -> "Contact Entity {e}." sentence
  sameAs         = doc_id % 4 != 0 -> "Identical to Document {doc_id-1}."
  sections       = s in 1..(1 + doc_id % 3), title "Section {s}"
  subsection     = present iff (doc_id+s) % 2 == 1, ordinal "{s}.1"
  citation (sec) = "See RFC {100 + (doc_id*7+s) % 900} for details."
  citation (sub) = "As described in section {s} of RFC {100 + (doc_id*11+s) % 900}."
  links          = hrefs to doc_id+1, doc_id+2 (same source)
  doc kind       = doc_id % 5 == 4 ? RFC-style text in <pre> : HTML headings

A skew knob: doc_id % 10 < 3 pages live under one hot domain
(https://hot.example.org/...) to exercise salting/AQE (SURVEY.md X4).
"""

from __future__ import annotations

import datetime
import textwrap
from .htmlelements import extract_document
from .rowmap import map_rows
from .textutil import normalize_space

BASE = "https://example.org/"
HOT_BASE = "https://hot.example.org/"
EPOCH_TS = datetime.datetime(2024, 1, 1)
EPOCH_DATE = datetime.date(2020, 1, 1)

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def page_url(doc_id: int, source: str) -> str:
    base = HOT_BASE if doc_id % 10 < 3 else BASE
    return "%sdocs/%s/%d" % (base, source, doc_id)


def doc_facts(doc_id: int, text: str, lang: str, source: str) -> dict:
    """All planted facts for one document (the closed-form spec)."""
    n_sections = 1 + doc_id % 3
    sections = []
    for s in range(1, n_sections + 1):
        sec = {
            "ordinal": str(s),
            "title": "Section %d" % s,
            "rfc": 100 + (doc_id * 7 + s) % 900,
            "subs": [],
        }
        if (doc_id + s) % 2 == 1:
            sec["subs"].append({
                "ordinal": "%d.1" % s,
                "title": "Subsection %d.1" % s,
                "sec_of_rfc": (s, 100 + (doc_id * 11 + s) % 900),
            })
        sections.append(sec)
    return {
        "doc_id": doc_id,
        "url": page_url(doc_id, source),
        "title": "Document %d" % doc_id,
        "identifier": "%s-%d" % (source, doc_id),
        "publisher": doc_id % 7,
        "issued": EPOCH_DATE + datetime.timedelta(days=(doc_id * 37) % 1461),
        "subject": "topic%d" % (doc_id % 11),
        "entity": doc_id % 50,
        "same_as": doc_id - 1 if doc_id % 4 != 0 else None,
        "sections": sections,
        "links": [page_url(doc_id + 1, source), page_url(doc_id + 2, source)],
        "lang": lang,
        "kind": "rfc" if doc_id % 5 == 4 else "html",
        "body_text": normalize_space(text),
    }


def _html_page(f: dict) -> str:
    secs = []
    for sec in f["sections"]:
        secs.append('<h2>%s. %s</h2>\n<p>See RFC %d for details.</p>'
                    % (sec["ordinal"], sec["title"], sec["rfc"]))
        for sub in sec["subs"]:
            s, rfc = sub["sec_of_rfc"]
            secs.append('<h3>%s %s</h3>\n<p>As described in section %d of RFC %d.</p>'
                        % (sub["ordinal"], sub["title"], s, rfc))
    ident_sentence = ("Identical to Document %d." % f["same_as"]
                      if f["same_as"] is not None else "")
    return """<!DOCTYPE html>
<html lang="%(lang)s">
<head>
<meta charset="utf-8"/>
<title>%(title)s</title>
<script>var tracker = "noise";</script>
</head>
<body>
<!-- synthetic page -->
<header class="site"><nav><a href="%(link0)s">next</a> <a href="%(link1)s">related</a></nav></header>
<h1>%(title)s</h1>
<dl class="meta">
<dt>Publisher:</dt><dd>Publisher %(publisher)d</dd>
<dt>Identifier:</dt><dd>%(identifier)s</dd>
<dt>Issued:</dt><dd>%(issued)s</dd>
<dt>Subject:</dt><dd>%(subject)s</dd>
</dl>
<p>Contact Entity %(entity)d. %(ident)s</p>
<p>%(body)s</p>
%(sections)s
<blink>unmodelled tag dropped with content</blink>
<script>more = "noise";</script>
<footer><p>Generated page.</p></footer>
</body>
</html>""" % {
        "lang": f["lang"], "title": f["title"],
        "link0": f["links"][0], "link1": f["links"][1],
        "publisher": f["publisher"], "identifier": f["identifier"],
        "issued": f["issued"].isoformat(), "subject": f["subject"],
        "entity": f["entity"], "ident": ident_sentence,
        "body": f["body_text"], "sections": "\n".join(secs),
    }


def _rfc_page(f: dict) -> str:
    """RFC-layout plain text wrapped in <pre> (the FSM parse path)."""
    lines = [
        "Network Working Group" + " " * 24 + "Publisher %d" % f["publisher"],
        "Identifier: %s" % f["identifier"] + " " * 10 +
        "Issued: %s" % f["issued"].isoformat(),
        "Subject: %s" % f["subject"] + " " * 14 + "Category: Synthetic",
    ]
    chunks = ["\n".join(lines), " " * 18 + f["title"]]
    ident_sentence = ("Identical to Document %d." % f["same_as"]
                      if f["same_as"] is not None else "")
    chunks.append(("Contact Entity %d. %s" % (f["entity"], ident_sentence)).strip())
    chunks.append("Abstract")
    # wrap to RFC-ish 72 columns so the paragraph is multi-line and the
    # FSM's is_header recognizer (single-line test) cannot match it
    chunks.append(textwrap.fill(f["body_text"] + ".", width=72))
    for sec in f["sections"]:
        chunks.append("%s.  %s" % (sec["ordinal"], sec["title"]))
        chunks.append("See RFC %d for details." % sec["rfc"])
        for sub in sec["subs"]:
            s, rfc = sub["sec_of_rfc"]
            chunks.append("%s  %s" % (sub["ordinal"], sub["title"]))
            chunks.append("As described in section %d of RFC %d." % (s, rfc))
    pre = "\n\n".join(chunks)
    return """<!DOCTYPE html>
<html lang="%(lang)s">
<head><meta charset="utf-8"/><title>%(title)s</title></head>
<body>
<header class="site"><nav><a href="%(link0)s">next</a> <a href="%(link1)s">related</a></nav></header>
<pre>%(pre)s</pre>
</body>
</html>""" % {"lang": f["lang"], "title": f["title"], "pre": pre,
              "link0": f["links"][0], "link1": f["links"][1]}


def page_row(doc_id: int, text: str, lang: str, source: str) -> dict:
    """One pages row; `text` column = reference-semantics extraction of
    the generated html (the byte-identity golden, input_hint)."""
    f = doc_facts(doc_id, text, lang, source)
    html = (_rfc_page(f) if f["kind"] == "rfc" else _html_page(f))
    raw = html.encode("utf-8")
    extracted = extract_document(raw, default_lang=lang)
    return {
        "url": f["url"],
        "warc_ts": EPOCH_TS + datetime.timedelta(minutes=doc_id),
        "html": raw,
        "text": extracted["text"],
        "lang": lang,
    }


def _page_rows(doc_id, text, lang, source):
    r = page_row(doc_id, text, lang, source)
    yield (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])


def pages_from_documents(documents_df):
    """documents(doc_id, text, lang, source, n_chars) -> pages DataFrame
    (one ``rowmap.map_rows`` pass; deterministic per doc_id)."""
    return map_rows(documents_df.select("doc_id", "text", "lang", "source"),
                    _page_rows, PAGES_SCHEMA)


def load_pages(spark, sf_dir: str):
    docs = spark.read.parquet(sf_dir.rstrip("/") + "/documents.parquet")
    # The sandbox parquet is a single row-group, so the scan yields ~1
    # split and the (CPU-heavy) parse stage would run on one core no
    # matter the cluster size.  Spread it across the executors first.
    # At production scale the Iceberg layout provides real splits and
    # this branch is a no-op (input partitions >= parallelism).
    target = docs.sparkSession.sparkContext.defaultParallelism * 2
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    return pages_from_documents(docs)
