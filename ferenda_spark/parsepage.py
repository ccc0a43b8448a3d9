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
from .htmlelements import decode_html, parse_html, prune, as_plaintext


def parse_page(raw: bytes, default_lang: str = "en") -> dict:
    html_text = decode_html(raw)
    tree = parse_html(html_text)

    html_el = tree.find("html") or tree
    lang = (html_el.attrs.get("xml:lang") or html_el.attrs.get("lang")
            or default_lang)
    title_el = tree.find("title")
    title = as_plaintext(title_el) if title_el is not None else None

    body = tree.find("body") or tree
    pruned = prune(body)
    text = as_plaintext(pruned) if pruned is not None else ""

    links, seen = [], set()
    _collect_links(pruned, links, seen)

    pres = []
    _collect_pre(body, pres)
    pre_text = "\n\n".join(pres) if pres else None

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
        "title": title, "lang": lang, "text": text, "links": links,
        "kind": kind, "preamble": preamble, "sections": sections,
    }


def _collect_links(node, out, seen):
    if node is None or isinstance(node, str):
        return
    if node.tag == "a" and "href" in node.attrs:
        v = node.attrs["href"]
        if v not in seen:
            seen.add(v)
            out.append(v)
    for c in node.children:
        _collect_links(c, out, seen)


def _collect_pre(node, out):
    if isinstance(node, str):
        return
    if node.tag == "pre":
        out.append("".join(_raw(node)))
        return
    for c in node.children:
        _collect_pre(c, out)


def _raw(node):
    for c in node.children:
        if isinstance(c, str):
            yield c
        else:
            yield from _raw(c)
