"""MediaWiki dump ingestion (S8's wiki branch, re-scoped for a
training-data pipeline).

The reference's MediaWiki repo (sources/general/wiki.py) consumes a
``dumpBackup.php`` XML export and converts each page's wikitext to
XHTML via a bundled markup parser (thirdparty/mw).  Byte-level parity
with that converter is out of scope here (it is a full MediaWiki
renderer incl. template expansion); what a 100 TB text pipeline needs
from a wiki dump is implemented from scratch instead, and checked
against the reference's own downloaded fixtures
(test/files/repo/mediawiki/downloaded/*.xml):

* :func:`parse_dump` — the export XML -> page records (title, id,
  timestamp, wikitext), namespace-agnostic stdlib parsing;
* :func:`wiki_links` / :func:`wiki_categories` — ``[[target|label]]``
  link and ``[[Kategori:/Category: ...]]`` extraction (what the
  reference turns into dcterms:subject triples);
* :func:`strip_wikitext` — markup -> plaintext: nested ``{{template}}``
  removal, link -> label with the MediaWiki *linktrail* merge
  (``[[personuppgift]]er`` -> ``personuppgifter``), external links ->
  label, bold/italic quotes, heading/list markers;
* :func:`wiki_pages` — the Spark stage: one ``rowmap.map_rows`` pass
  over (url, xml) rows -> (url, title, page_id, ts, text, categories,
  links).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

_LINK_RE = re.compile(r"\[\[([^\[\]|]+)(?:\|([^\[\]]*))?\]\](\w*)",
                      re.UNICODE)
_EXT_LINK_RE = re.compile(r"\[(?:https?|ftp)://[^\s\]]+(?:\s+([^\]]*))?\]")
_HEADING_RE = re.compile(r"^(={1,6})\s*(.*?)\s*\1\s*$", re.M)
_LIST_RE = re.compile(r"^[\*#:;]+\s*", re.M)
_CATEGORY_PREFIXES = ("kategori:", "category:")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_dump(xml_text: str) -> list[dict]:
    """MediaWiki export XML -> [{title, page_id, ts, text}].  Accepts
    a single <page> or a <mediawiki> dump with many; namespace URIs
    vary by export version, so matching is on local names."""
    root = ET.fromstring(xml_text)
    pages = [root] if _local(root.tag) == "page" else [
        el for el in root.iter() if _local(el.tag) == "page"]
    out = []
    for page in pages:
        rec = {"title": None, "page_id": None, "ts": None, "text": None}
        for el in page.iter():
            name = _local(el.tag)
            if name == "title":
                rec["title"] = el.text
            elif name == "id" and rec["page_id"] is None:
                rec["page_id"] = int(el.text)
            elif name == "timestamp":
                rec["ts"] = el.text
            elif name == "text":
                rec["text"] = el.text or ""
        out.append(rec)
    return out


def wiki_links(text: str) -> list[str]:
    """Distinct internal link targets, in first-seen order (category
    links excluded — they are metadata, not content links)."""
    seen, out = set(), []
    for m in _LINK_RE.finditer(text):
        target = m.group(1).strip()
        if target.lower().startswith(_CATEGORY_PREFIXES):
            continue
        if target not in seen:
            seen.add(target)
            out.append(target)
    return out


def wiki_categories(text: str) -> list[str]:
    """Category names from [[Kategori:...]] / [[Category:...]] links
    (the reference emits these as dcterms:subject)."""
    out = []
    for m in _LINK_RE.finditer(text):
        target = m.group(1).strip()
        low = target.lower()
        for pfx in _CATEGORY_PREFIXES:
            if low.startswith(pfx):
                out.append(target[len(pfx):].strip())
    return out


def _strip_templates(text: str) -> str:
    """Remove {{...}} including nesting (a scanner, not a regex — the
    TranslatedAct-style templates nest braces)."""
    out, depth, i = [], 0, 0
    while i < len(text):
        if text.startswith("{{", i):
            depth += 1
            i += 2
        elif text.startswith("}}", i) and depth:
            depth -= 1
            i += 2
        else:
            if not depth:
                out.append(text[i])
            i += 1
    return "".join(out)


def strip_wikitext(text: str) -> str:
    """Wikitext -> plaintext for the token/dedup/quality pipeline."""
    t = _strip_templates(text)

    def link_sub(m):
        target, label, trail = m.group(1), m.group(2), m.group(3)
        if target.strip().lower().startswith(_CATEGORY_PREFIXES):
            return ""
        # MediaWiki linktrail: letters glued to the closing brackets
        # join the label ([[personuppgift]]er -> personuppgifter)
        return (label if label is not None else target) + (trail or "")

    t = _LINK_RE.sub(link_sub, t)
    t = _EXT_LINK_RE.sub(lambda m: m.group(1) or "", t)
    t = _HEADING_RE.sub(r"\2", t)
    t = _LIST_RE.sub("", t)
    t = t.replace("'''", "").replace("''", "")
    t = re.sub(r"[ \t]+", " ", t)
    t = re.sub(r"\n{3,}", "\n\n", t)
    return t.strip()


WIKI_SCHEMA = ("url string, title string, page_id long, ts string, "
               "text string, categories array<string>, "
               "links array<string>, error string")


def wiki_pages(docs, xml_col: str = "xml", url_col: str = "url"):
    """Spark stage: (url, export-xml) -> parsed page rows; a dump file
    with many <page> elements fans out to one row each.  A document
    whose XML fails to parse yields one quarantine row instead of
    failing the batch (I4)."""
    from .rowmap import map_rows

    def row(url, xml_text):
        try:
            for rec in parse_dump(xml_text):
                wt = rec["text"] or ""
                yield (url, rec["title"], rec["page_id"], rec["ts"],
                       strip_wikitext(wt), wiki_categories(wt),
                       wiki_links(wt), None)
        except Exception as e:
            yield (url, None, None, None, None, [], [], str(e))

    return map_rows(docs.select(url_col, xml_col), row, WIKI_SCHEMA)


# --------------------------------------------------------------------
# XHTML render path (the other half of S8's wiki branch: the reference
# renders wikitext to an XHTML body via its bundled markup parser —
# sources/general/wiki.py parse_document_from_soup + WikiSemantics +
# postprocess, thirdparty/mw).  Re-implemented from scratch for the
# constructs its own fixture pages use
# (test/files/repo/mediawiki/parsed/*.xhtml — golden-checked in
# tests/test_wikitext.py): paragraphs with MediaWiki newline->space
# semantics, ''italic''/'''bold''', internal links with the linktrail
# merge, [url label] external links (class="external text"
# rel="nofollow"), #/* lists, == heading == section splits, and
# [[Kategori:X]] -> dcterms:subject extraction with the emptied
# paragraph dropped (postprocess, wiki.py:228-242).

_INLINE_RE = re.compile(
    r"'''(?P<b>.+?)'''"
    r"|''(?P<i>.+?)''"
    r"|\[\[(?P<lt>[^\[\]|]+)(?:\|(?P<ll>[^\[\]]*))?\]\](?P<trail>\w*)"
    r"|\[(?P<eurl>(?:https?|ftp)://[^\s\]]+)(?:\s+(?P<elabel>[^\]]*))?\]",
    re.S | re.UNICODE)


def make_lagen_resolver(base: str = "https://lagen.nu/"):
    """The keyword-hub URL scheme of the reference's fixtures: plain
    targets -> keyword (begrepp) URIs with MediaWiki first-letter
    capitalization and space->underscore; SFS/-prefixed targets -> the
    law's own URI; namespaced targets (Användare:...) -> wiki/ pages."""
    def resolve(target: str) -> str:
        t = target.strip()
        if t.startswith("SFS/"):
            return base + t[4:]
        name = (t[:1].upper() + t[1:]).replace(" ", "_")
        if ":" in t:
            return base + "wiki/" + name
        return base + "begrepp/" + name
    return resolve


# statute abbreviations the fixture commentary links inline (the
# reference's lagen.nu semantics run its legalref over text nodes);
# chapter:section(+stycke) mints the reference's #K{k}P{p}(S{s}) anchor
_LN_LAWS = {"TF": "1949:105", "YGL": "1991:1469", "RF": "1974:152",
            "BrB": "1962:700", "RB": "1942:740", "JB": "1970:994"}
_LN_REF_RE = re.compile(
    r"\b(%s) (\d+):(\d+)(?: (\d+) st\.?)?" % "|".join(_LN_LAWS))


def ln_legal_linkify(text: str, base: str = "https://lagen.nu/"):
    """Split a text node into [str | (href, anchor)] pieces, turning
    short-form statute references (``TF 1:1 4 st.``) into links."""
    out, pos = [], 0
    for m in _LN_REF_RE.finditer(text):
        if m.start() > pos:
            out.append(text[pos:m.start()])
        law, k, p, st = m.groups()
        href = base + _LN_LAWS[law] + "#K%sP%s" % (k, p) \
            + ("S%s" % st if st else "")
        out.append((href, m.group(0)))
        pos = m.end()
    if pos < len(text):
        out.append(text[pos:])
    return out


def _append_text(parent, text):
    if not text:
        return
    if len(parent):
        last = parent[-1]
        last.tail = (last.tail or "") + text
    else:
        parent.text = (parent.text or "") + text


def _append_linkified(parent, text, linkify):
    for piece in (linkify(text) if linkify else [text]):
        if isinstance(piece, tuple):
            a = ET.Element("a")
            a.set("href", piece[0])
            a.text = piece[1]
            parent.append(a)
        else:
            _append_text(parent, piece)


def _render_inline(parent, text, resolve, linkify, subjects):
    pos = 0
    for m in _INLINE_RE.finditer(text):
        if m.start() > pos:
            _append_linkified(parent, text[pos:m.start()], linkify)
        if m.group("b") is not None:
            el = ET.Element("b")
            _render_inline(el, m.group("b"), resolve, linkify, subjects)
            parent.append(el)
        elif m.group("i") is not None:
            el = ET.Element("i")
            _render_inline(el, m.group("i"), resolve, linkify, subjects)
            parent.append(el)
        elif m.group("lt") is not None:
            target = m.group("lt").strip()
            if target.lower().startswith(_CATEGORY_PREFIXES):
                subjects.append(target.split(":", 1)[1].strip())
            else:
                a = ET.Element("a")
                a.set("href", resolve(target))
                label = m.group("ll")
                a.text = ((label if label is not None else target)
                          + (m.group("trail") or ""))
                parent.append(a)
        else:
            a = ET.Element("a")
            a.set("href", m.group("eurl"))
            a.set("class", "external text")
            a.set("rel", "nofollow")
            a.text = m.group("elabel") or m.group("eurl")
            parent.append(a)
        pos = m.end()
    if pos < len(text):
        _append_linkified(parent, text[pos:], linkify)


def _render_blocks(div, lines, resolve, linkify, subjects):
    i, n = 0, len(lines)
    while i < n:
        line = lines[i]
        if not line.strip():
            i += 1
            continue
        if line[:1] in "#*":
            marker = line[0]
            lst = ET.SubElement(div, "ol" if marker == "#" else "ul")
            while i < n and lines[i][:1] == marker:
                li = ET.SubElement(lst, "li")
                # the space after the marker and the line-final
                # newline both survive as text (fixture whitespace)
                _render_inline(li, lines[i][1:] + " ", resolve,
                               linkify, subjects)
                i += 1
        else:
            plines = []
            while i < n and lines[i].strip() and lines[i][:1] not in "#*":
                plines.append(lines[i])
                i += 1
            p = ET.Element("p")
            # newlines inside and at the end of a paragraph render as
            # spaces (hence the fixtures' trailing space before </p>)
            _render_inline(p, " ".join(plines) + " ", resolve,
                           linkify, subjects)
            if len(p) or (p.text and p.text.strip()):
                div.append(p)


def render_sections(text: str, resolve=None, linkify=None):
    """wikitext -> ([(heading_or_None, <div> Element)], subjects).

    The first entry is the pre-heading intro (heading None); each
    ``== X ==`` opens a new section — the shape the reference's
    commentary postprocess splits into per-section description divs.
    Category links are removed from the tree and returned as subject
    names (wiki.py postprocess:228-242)."""
    resolve = resolve or (lambda t: t)
    text = _strip_templates(text)
    subjects: list[str] = []
    sections: list[tuple] = [(None, [])]
    for rawline in text.split("\n"):
        hm = re.fullmatch(r"(={2,6})\s*(.*?)\s*\1\s*", rawline)
        if hm:
            sections.append((hm.group(2), []))
        else:
            sections[-1][1].append(rawline)
    out = []
    for heading, lines in sections:
        div = ET.Element("div")
        _render_blocks(div, lines, resolve, linkify, subjects)
        out.append((heading, div))
    return out, subjects


WIKI_RENDER_SCHEMA = ("url string, n_sections int, "
                      "subjects array<string>, body_html string, "
                      "error string")


def wiki_render(docs, text_col: str = "wikitext", url_col: str = "url",
                base: str = ""):
    """Spark stage: (url, wikitext) -> rendered XHTML body string +
    section count + subject names — the render half of the wiki
    pipeline as one ``rowmap.map_rows`` pass (same stage shape as the
    HTML parse; parse failures quarantine per-document, I4)."""
    from .rowmap import map_rows
    resolve = make_lagen_resolver(base) if base else None

    def row(url, wt):
        try:
            secs, subjects = render_sections(wt or "", resolve=resolve)
            parts = []
            n_sections = 0
            for heading, div in secs:
                if heading is not None:
                    n_sections += 1
                    h2 = ET.Element("h2")
                    h2.text = heading
                    parts.append(ET.tostring(h2, encoding="unicode"))
                parts.append(ET.tostring(div, encoding="unicode"))
            return [(url, n_sections, subjects, "".join(parts), None)]
        except Exception as e:
            return [(url, None, [], None, str(e))]

    return map_rows(docs.select(url_col, text_col), row, WIKI_RENDER_SCHEMA)
