"""Golden tests for the Spark-free extraction core.

These encode the reference's documented extraction semantics
(elements_from_soup html.py:23-71, as_plaintext elements.py:249-261,
normalize_space util.py:286-296) as hand-computed expectations — the
byte-identity oracle of BASELINE.json's input_hint.
"""

import pytest

from ferenda_spark.htmlelements import (
    as_plaintext, decode_html, extract_document, parse_html, prune)
from ferenda_spark.textutil import (
    from_roman, is_roman, natsort_key, normalize_space, ordinal_sortkey,
    title_sortkey, to_roman, uri_leaf, base27encode, base27decode,
    split_numalpha)


def text_of(html):
    body = parse_html(html).find("body")
    return as_plaintext(prune(body))


def test_normalize_space():
    assert normalize_space(" This is  a long \n string\n") == "This is a long string"
    assert normalize_space("a\xa0b") == "a b"
    assert normalize_space("   ") == ""


def test_plaintext_inline_join():
    # as_plaintext joins non-empty children with exactly one space —
    # inline elements therefore introduce separating spaces
    assert text_of("<body><p>Hello <b>world</b>!</p></body>") == "Hello world !"


def test_plaintext_whitespace_nodes_skipped():
    assert text_of("<body>\n  <p>a</p>\n  <p>b</p>\n</body>") == "a b"


def test_script_style_dropped_with_content():
    assert text_of("<body><p>keep</p><script>drop()</script>"
                   "<style>.x{}</style><font>gone</font></body>") == "keep"


def test_unknown_tags_dropped_with_content():
    assert text_of("<body><p>keep</p><blink>gone</blink>"
                   "<custom><p>also gone</p></custom></body>") == "keep"


def test_comments_skipped():
    assert text_of("<body><!-- no --><p>yes</p></body>") == "yes"


def test_nested_normalization():
    assert text_of("<body><div><p> a  b </p><ul><li>c</li><li> d\ne</li>"
                   "</ul></div></body>") == "a b c d e"


def test_entities_decoded():
    assert text_of("<body><p>a &amp; b&nbsp;c</p></body>") == "a & b c"


def test_attrs_kept_and_dropped():
    el = prune(parse_html('<body><p class="x y" style="c" id="i" '
                          'onclick="z">t</p></body>').find("body"))
    p = el.children[0]
    assert p.attrs == {"class": "x y", "id": "i"}


def test_extract_document_metadata():
    doc = extract_document(
        b'<html lang="sv"><head><title>T1</title></head>'
        b'<body><p>x</p><a href="u1">l</a><a href="u1">l</a>'
        b'<a href="u2">m</a></body></html>')
    assert doc["lang"] == "sv"
    assert doc["title"] == "T1"
    assert doc["text"] == "x l l m"  # both anchor texts kept
    assert doc["links"] == ["u1", "u2"]  # deduped, document order


def test_parse_page_shares_extract_document_walk():
    """The parse stage and extract_document read the same walk; they
    differ only on an empty <title> ("" vs None)."""
    from ferenda_spark.parsepage import parse_page
    raw = (b'<html lang="sv"><head><title> </title></head><body>'
           b'<p>x</p><a href="u1">l</a><a href="u1">l</a></body></html>')
    doc, page = extract_document(raw), parse_page(raw)
    assert (doc["title"], page["title"]) == (None, "")
    for k in ("text", "lang", "links"):
        assert page[k] == doc[k]
    assert parse_page(b"<html><body>x</body></html>")["title"] is None


def test_lang_fallback():
    assert extract_document(b"<html><body>x</body></html>",
                            default_lang="de")["lang"] == "de"


def test_charset_detection():
    raw = ('<html><head><meta charset="iso-8859-1"/></head>'
           '<body><p>r\xe4v</p></body></html>').encode("iso-8859-1")
    assert extract_document(raw)["text"] == "räv"


def test_pre_text_preserved():
    doc = extract_document(
        b"<html><body><pre>line1\n\nline2  x</pre></body></html>")
    assert doc["pre_text"] == "line1\n\nline2  x"
    assert doc["text"] == "line1 line2 x"  # normalized in plaintext


def test_decode_html_bad_charset_falls_back():
    assert "x" in decode_html(b'<meta charset="not-a-charset"><p>x</p>')


# ---- scalar utils (reference util.py semantics)

def test_title_sortkey():
    assert title_sortkey("The 'Viking' Episode") == "vikingepisode"
    assert title_sortkey("A B, C") == "abc"


def test_split_numalpha():
    assert split_numalpha("RFC 822-bis") == ["RFC ", 822, "-bis"]


def test_natsort():
    ks = sorted(["2", "10", "1.2", "1.10"], key=natsort_key)
    assert ks == ["1.2", "1.10", "2", "10"]


def test_ordinal_sortkey():
    assert sorted(["1.10", "1.2", "2"], key=ordinal_sortkey) == \
        ["1.2", "1.10", "2"]


def test_roman():
    assert to_roman(1983) == "MCMLXXXIII"
    assert from_roman("MCMLXXXIII") == 1983
    assert is_roman("XIV") and not is_roman("XXXXX") and not is_roman("")
    with pytest.raises(ValueError):
        from_roman("FOO")


def test_uri_leaf():
    assert uri_leaf("http://purl.org/dc/terms/title") == "title"
    assert uri_leaf("http://ex.org/doc#S1.2") == "S1.2"


def test_base27():
    assert base27encode(0) == " "
    assert base27encode(1) == "A"
    assert base27decode(base27encode(730)) == 730
