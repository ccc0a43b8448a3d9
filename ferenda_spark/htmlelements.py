"""HTML -> element tree -> plain text, with the reference's semantics.

From-scratch stdlib implementation (``html.parser``) of the observable
behavior of the reference's soup pipeline (SURVEY.md P1-P4):

* ``elements_from_soup`` (ferenda/elements/html.py:23-71): drop
  ``script/style/font/map/center`` subtrees entirely; drop tags not in
  the HTML tag map (with their content); keep only attributes
  ``class,id,dir,lang,src,href,name,alt`` (list-valued joined with a
  single space); skip comments; skip pure-whitespace text nodes.
* ``as_plaintext`` (ferenda/elements/elements.py:249-261): normalize
  whitespace of every text node (util.normalize_space semantics), then
  join all non-empty children with exactly one space.
* content selection (documentrepository.py:1244-1275): extract from the
  first ``<body>`` (``parse_content_selector='body'``) after removing
  filter-selector nodes (default ``script``).
* metadata (documentrepository.py:1202-1242): lang from ``html/@xml:lang``
  else ``html/@lang`` else default; title from the first ``<title>``.

These run inside the Arrow row mapper (``rowmap.map_rows``) on the
Spark side; this module itself is deliberately Spark-free so the same
code is golden tested in plain pytest (the byte-identity invariant of
BASELINE.json's ``input_hint``).
"""

from __future__ import annotations

from html.parser import HTMLParser

from .textutil import normalize_space

# HTML tags the reference can model (ferenda/elements/html.py:558-645
# _tagmap keys).  Anything else is dropped together with its content.
KNOWN_TAGS = frozenset("""
html head title body p h1 h2 h3 h4 h5 h6 ul ol li pre dl dt dd div
blockquote form hr table fieldset address tt i b u big small em strong
dfn code samp kbd var cite abbr acronym a img object br q sub sup span
bdo input select textarea label button caption thead tfoot tbody
colgroup col tr th td ins del article aside bdi details dialog summary
figure figcaption footer header hgroup mark meter nav progress ruby rt
rp section time wbr
""".split())

REMOVE_TAGS = frozenset(("script", "style", "font", "map", "center"))
KEEP_ATTRIBUTES = ("class", "id", "dir", "lang", "src", "href", "name", "alt")

# void elements: no closing tag expected
_VOID = frozenset(("br", "hr", "img", "input", "col", "wbr", "meta",
                   "link", "base", "area", "embed", "source", "track",
                   "param"))


class Element:
    """One node of the parsed tree: tag, attrs, children (str | Element)."""

    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag, attrs=None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children = []

    def find(self, tag):
        """Depth-first search for the first descendant with this tag."""
        if self.tag == tag:
            return self
        for c in self.children:
            if isinstance(c, Element):
                hit = c.find(tag)
                if hit is not None:
                    return hit
        return None

    def __repr__(self):  # pragma: no cover - debugging aid
        return "<%s %r (%d children)>" % (self.tag, self.attrs,
                                          len(self.children))


class _TreeBuilder(HTMLParser):
    """Build a raw Element tree from HTML text (keeps every tag; the
    reference-semantics filtering happens in :func:`prune`)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("#document")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        el = Element(tag, dict(attrs))
        self.stack[-1].children.append(el)
        if tag not in _VOID:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(Element(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # pop to the matching open tag if present; tolerate stray ends
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        self.stack[-1].children.append(data)

    # comments / declarations / PIs are skipped (bs4.Comment skip in
    # elements_from_soup, html.py:59-61)


def parse_html(text: str) -> Element:
    b = _TreeBuilder()
    b.feed(text)
    b.close()
    return b.root


def decode_html(raw: bytes, default_encoding: str = "utf-8") -> str:
    """Decode page bytes using the declared charset when present
    (documentrepository.py:1190-1200 uses the declared encoding with
    errors='replace')."""
    head = raw[:2048]
    enc = default_encoding
    marker = b"charset="
    i = head.find(marker)
    if i != -1:
        j = i + len(marker)
        while j < len(head) and head[j:j + 1] in b"\"' ":
            j += 1
        end = j
        while end < len(head) and head[end:end + 1] not in b"\"' />;":
            end += 1
        cand = head[j:end].decode("ascii", "ignore").strip().lower()
        if cand:
            enc = cand
    try:
        return raw.decode(enc, "replace")
    except LookupError:
        return raw.decode(default_encoding, "replace")


def prune(node: Element):
    """Apply elements_from_soup filtering semantics
    (ferenda/elements/html.py:23-71): returns a pruned copy or None."""
    tag = node.tag
    if tag in REMOVE_TAGS:
        return None
    if tag != "#document" and tag not in KNOWN_TAGS:
        return None
    attrs = {}
    for attr in KEEP_ATTRIBUTES:
        if attr in node.attrs:
            v = node.attrs[attr]
            attrs[attr] = " ".join(v) if isinstance(v, list) else (v or "")
    out = Element(tag, attrs)
    for child in node.children:
        if isinstance(child, str):
            if child.strip() != "":  # ignore pure whitespace between tags
                out.children.append(child)
        else:
            sub = prune(child)
            if sub is not None:
                out.children.append(sub)
    return out


def as_plaintext(node) -> str:
    """elements.py:249-261 semantics: normalize each text node, recurse
    into elements, join non-empty parts with exactly one space."""
    if isinstance(node, str):
        return normalize_space(node)
    parts = []
    for child in node.children:
        if isinstance(child, str):
            parts.append(normalize_space(child))
        else:
            parts.append(as_plaintext(child))
    return " ".join(p for p in parts if p)


def node_text(node: Element) -> str:
    """All text under ``node``, concatenated raw, then whitespace-
    normalized once (the table-cell / anchor / microdata value)."""
    return normalize_space("".join(_raw_text(node)))


def walk_document(raw: bytes, default_lang: str = "en"):
    """The one HTML walk behind :func:`extract_document` and the parse
    stage (``parsepage.parse_page``): returns ``(fields, pruned)``,
    ``pruned`` the filtered ``<body>`` tree (or None) and ``fields``
    the ``text``, ``title``, ``lang``, ``links`` and ``pre_text`` of
    :func:`extract_document`, except that an empty ``<title>`` gives
    ``""`` here (None only when there is no ``<title>``)."""
    html_text = decode_html(raw)
    tree = parse_html(html_text)

    html_el = tree.find("html") or tree
    lang = (html_el.attrs.get("xml:lang") or html_el.attrs.get("lang")
            or default_lang)
    title_el = tree.find("title")
    title = as_plaintext(title_el) if title_el is not None else None

    body = tree.find("body")
    content = body if body is not None else tree
    pruned = prune(content)
    text = as_plaintext(pruned) if pruned is not None else ""

    links, seen = [], set()
    _collect(pruned, "a", "href", links, seen)

    pres = []
    _collect_pre(content, pres)
    return {
        "text": text,
        "title": title,
        "lang": lang,
        "links": links,
        "pre_text": "\n\n".join(pres) if pres else None,
    }, pruned


def extract_document(raw: bytes, default_lang: str = "en") -> dict:
    """One-pass page extraction: returns dict with keys
    ``text`` (body plaintext, the byte-identity invariant),
    ``title`` (None when absent or empty), ``lang``, plus ``links``
    (href list, document order, deduped — download_get_basefiles
    semantics, documentrepository.py:834-855) and ``pre_text``
    (concatenated ``<pre>`` content verbatim, for the FSM
    text-document path)."""
    fields, _ = walk_document(raw, default_lang)
    fields["title"] = fields["title"] or None
    return fields


def _collect(node, tag, attr, out, seen):
    if node is None or isinstance(node, str):
        return
    if node.tag == tag and attr in node.attrs:
        v = node.attrs[attr]
        if v not in seen:
            seen.add(v)
            out.append(v)
    for c in node.children:
        _collect(c, tag, attr, out, seen)


def _collect_pre(node, out):
    if isinstance(node, str):
        return
    if node.tag == "pre":
        out.append("".join(_raw_text(node)))
        return
    for c in node.children:
        _collect_pre(c, out)


def _raw_text(node):
    for c in node.children:
        if isinstance(c, str):
            yield c
        else:
            yield from _raw_text(c)
