"""Single-pass per-page parse: bytes -> {text, title, lang, links,
sections, preamble, kind}.

This is the per-document sequential logic that runs *inside* the Arrow
``map_rows`` extract stage (operators/extract.py) — the analogue of
the reference's ``parse(doc)`` body (documentrepository.py:1118-1141:
soup -> metadata -> element tree; rfc.py:456-474: TextReader -> FSM).
Kept Spark-free for golden testing.
"""

from __future__ import annotations

from .docparsers import parse_html_sections, parse_rfc_text
from .htmlelements import walk_document


def parse_page(raw: bytes, default_lang: str = "en") -> dict:
    """``htmlelements.walk_document`` plus the section parse: an empty
    ``<title>`` stays ``""`` here (``extract_document`` gives None)."""
    doc, pruned = walk_document(raw, default_lang)
    title, text, pre_text = doc["title"], doc["text"], doc["pre_text"]
    if pre_text and len(pre_text) > 0.5 * max(len(text), 1):
        # predominantly preformatted -> RFC-style text document
        # (compositerepository.py:182-251 "try parsers in order" shape)
        kind = "rfc"
        fsm_title, preamble, sections = parse_rfc_text(pre_text)
        title = title or fsm_title
    else:
        kind = "html"
        preamble, sections = (parse_html_sections(pruned)
                              if pruned is not None else ("", []))
    return {
        "title": title, "lang": doc["lang"], "text": text,
        "links": doc["links"], "kind": kind, "preamble": preamble,
        "sections": sections,
    }
