"""Robots-meta, follow edges, and feed parsing — the conflict and
malformed-input cases the closed-form driver plants don't cover."""

import pytest

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-crawl-meta", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _pages(spark, rows, cols="url string, html binary"):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], cols)


def test_robots_multiple_metas_union(spark):
    """Two robots metas: most restrictive wins across both."""
    from ferenda_spark.operators.crawl import robots_meta
    html = ('<meta name="robots" content="noindex"/>'
            '<meta name="robots" content="nofollow"/>')
    r = robots_meta(_pages(spark, [("u", html)])).collect()[0]
    assert r.noindex is True and r.nofollow is True


def test_robots_none_means_both(spark):
    from ferenda_spark.operators.crawl import robots_meta
    r = robots_meta(_pages(
        spark, [("u", '<meta name="robots" content="none"/>')]
    )).collect()[0]
    assert r.noindex is True and r.nofollow is True


def test_robots_other_name_ignored(spark):
    from ferenda_spark.operators.crawl import robots_meta
    r = robots_meta(_pages(
        spark, [("u", '<meta name="googlebot" content="noindex"/>')]
    )).collect()[0]
    assert r.noindex is False and r.nofollow is False


def test_follow_edges_first_occurrence_wins(spark):
    """Same href seen twice, nofollow only on the SECOND: the first
    (followable) occurrence is the one kept."""
    from ferenda_spark.operators.crawl import follow_edges
    html = ('<a href="/x">a</a>'
            '<a rel="nofollow" href="/x">b</a>'
            '<a rel="NoFollow" href="/y">c</a>')
    rows = (follow_edges(_pages(spark, [("u", html)]))
            .orderBy("position").collect())
    assert [(r.href, r.follow) for r in rows] == [
        ("/x", True), ("/y", False)]


def test_feed_unknown_root_yields_nothing(spark):
    from ferenda_spark.operators.crawl import feed_entries
    feeds = spark.createDataFrame(
        [("f", b"<html><body>not a feed</body></html>"),
         ("g", b"<rss version='2.0'></rss>")],
        "feed_url string, xml binary")
    assert feed_entries(feeds).count() == 0


def test_feed_malformed_or_non_utf8_yields_nothing(spark):
    """A truncated or non-UTF-8 feed drops its own rows, like an
    unknown root; the good feed next to it still parses."""
    from ferenda_spark.operators.crawl import feed_entries
    feeds = spark.createDataFrame(
        [("bad", b"<rss version='2.0'><channel><item><title>t"),
         ("latin1", "<rss><channel><item><title>\u00e9</title></item>"
                    "</channel></rss>".encode("latin-1")),
         ("good", b"<rss><channel><item><title>ok</title></item>"
                  b"</channel></rss>")],
        "feed_url string, xml binary")
    got = [(r.feed_url, r.title) for r in feed_entries(feeds).collect()]
    assert got == [("good", "ok")]


def test_atom_entry_without_link_or_dates(spark):
    from ferenda_spark.operators.crawl import feed_entries
    xml = ('<feed xmlns="http://www.w3.org/2005/Atom">'
           "<entry><title>T</title><id>i</id></entry></feed>")
    feeds = spark.createDataFrame(
        [("f", xml.encode())], "feed_url string, xml binary")
    r = feed_entries(feeds).collect()[0]
    assert (r.title, r.entry_id, r.link, r.published) == \
        ("T", "i", None, None)


def test_rss_updated_order_independence(spark):
    """Atom: published wins even when updated appears FIRST."""
    from ferenda_spark.operators.crawl import feed_entries
    xml = ('<feed xmlns="http://www.w3.org/2005/Atom"><entry>'
           "<updated>U</updated><published>P</published>"
           "<title>t</title></entry></feed>")
    feeds = spark.createDataFrame(
        [("f", xml.encode())], "feed_url string, xml binary")
    assert feed_entries(feeds).collect()[0].published == "P"
