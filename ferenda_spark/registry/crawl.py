"""Crawl, robots, sitemap and feed queries (``crawl_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.crawl import (CANONICAL_LINK_PAT,
                                           allocate_crawl_budget,
                                           blocklist_filter, cdx_index,
                                           feed_entries, follow_edges,
                                           frontier_schedule, mirror_hosts,
                                           opic_priorities, param_significance,
                                           parse_robots, politeness_schedule,
                                           recrawl_schedule, rel_canonical,
                                           robots_allowed, robots_host_meta,
                                           robots_meta, sitemap_diff,
                                           sitemap_entries, soft404,
                                           stitch_paginated, strand_url_pairs,
                                           trap_detection, url_templates,
                                           warc_revisit)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _F_CTE, _docs, _read, block_edges


_ROBOTS_RULES = [
    ("example.org", "/docs/src1", False),      # src13..src19 prefix
    ("example.org", "/docs/src15", True),      # longest match wins
    ("example.org", "/docs/src4/", False),
    ("example.org", "/docs/src7/", False),     # exact-length tie:
    ("example.org", "/docs/src7/", True),      # allow wins (RFC 9309)
    ("hot.example.org", "/docs/", False),
    ("hot.example.org", "/docs/src12", True),
]


def _robots_texts(spark, sf_dir):
    """Planted robots.txt per host: every doc's file has a ``*``
    group (Disallow /private, Allow /private/ok{id%3}, Crawl-delay
    2) and a top-level Sitemap line; EVEN docs also carry a
    ferendabot group (Disallow /bot{id%5}) that must shadow ``*``."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    base = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"
              "Allow: /private/ok"),
        (did % 3),
        F.lit("\nCrawl-delay: 2\n\nSitemap: https://h"), s,
        F.lit(".example.org/sitemap.xml\n"))
    bot = F.concat(
        F.lit("User-agent: ferendabot\n# scoped group\n"
              "Disallow: /bot"), (did % 5), F.lit("\n"))
    txt = F.when(did % 2 == 0, F.concat(base, bot)).otherwise(base)
    return d.select(
        F.concat(F.lit("h"), s, F.lit(".example.org")).alias("host"),
        txt.alias("robots_txt"))


def _rel_canonical_oracle() -> str:
    """Regexp replay of the rel=canonical extraction with the
    operator's own pattern."""
    return """
            WITH p AS (SELECT doc_id,
                   'https://ex.org/p/' || doc_id AS url,
                   CASE WHEN (doc_id // 4) % 7 = 0
                        THEN 'https://ex.org/missing/' || (doc_id // 4)
                        ELSE 'https://ex.org/p/' || ((doc_id // 4) * 4)
                   END AS target
                   FROM documents),
            h AS (SELECT url,
                  '<html><head><link rel="canonical" href="' || target
                  || '"></head><body>x</body></html>' AS html FROM p),
            x AS (SELECT url,
                  regexp_extract(html, '{PAT}', 1) AS canonical_url
                  FROM h),
            decl AS (SELECT * FROM x
                     WHERE canonical_url <> ''
                       AND canonical_url <> url),
            agg AS (SELECT canonical_url,
                    CAST(COUNT(*) AS BIGINT) AS n_variants
                    FROM decl GROUP BY canonical_url),
            f AS (SELECT DISTINCT url AS canonical_url FROM h)
            SELECT a.canonical_url, a.n_variants,
                   f.canonical_url IS NOT NULL AS target_in_corpus
            FROM agg a LEFT JOIN f USING (canonical_url)
            ORDER BY canonical_url""".replace("{PAT}",
                                              CANONICAL_LINK_PAT)


@query("crawl_robots_rules", oracle="WITH " + _F_CTE + """,
    rules(host, path_prefix, allow) AS (VALUES
      ('example.org', '/docs/src1', FALSE),
      ('example.org', '/docs/src15', TRUE),
      ('example.org', '/docs/src4/', FALSE),
      ('example.org', '/docs/src7/', FALSE),
      ('example.org', '/docs/src7/', TRUE),
      ('hot.example.org', '/docs/', FALSE),
      ('hot.example.org', '/docs/src12', TRUE)),
    u AS (
      SELECT url,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
             regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1)
               AS path
      FROM f),
    m AS (
      SELECT u.url, r.allow, r.path_prefix,
             ROW_NUMBER() OVER (PARTITION BY u.url
               ORDER BY length(r.path_prefix) DESC,
                        CAST(r.allow AS INT) DESC) AS rk
      FROM u JOIN rules r
        ON u.host = r.host
       AND starts_with(u.path, r.path_prefix))
    SELECT u.url,
           COALESCE(m.allow, TRUE) AS allowed,
           COALESCE(m.path_prefix, '') AS rule_prefix
    FROM u LEFT JOIN (SELECT * FROM m WHERE rk = 1) m
      USING (url)
    ORDER BY u.url""")
def _q_robots_rules(spark, sf_dir):
    """RFC 9309 robots.txt longest-match over the corpus URL table:
    broadcast rule dim, prefix filter, one per-URL window; no-match
    URLs allowed by default.  Exercises prefix-length precedence AND
    the allow-wins-ties rule (two planted src7 rules)."""
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string, allow boolean")
    urls = _docs(spark, sf_dir).select("url")
    return robots_allowed(urls, rules).orderBy("url")


# the synthesized sitemap round-trips through the real XML
# parser on the Spark side; closed-form here
@query("crawl_sitemap", oracle="WITH " + _F_CTE + """
    SELECT url AS loc, issued AS lastmod,
           CAST(doc_id % 10 AS INT) AS priority_tenths
    FROM f ORDER BY loc""")
def _q_crawl_sitemap(spark, sf_dir):
    """Sitemap-protocol ingestion: per-host/per-100-doc sitemap XML
    files are synthesized JVM-side (collect_list + concat — the
    deterministic fake, like the WARC/mm blob synthesizers) and then
    parsed back by the REAL namespace-agnostic ElementTree kernel in
    crawl.sitemap_entries; the oracle recomputes the entries
    closed-form, so any parse defect breaks the hash."""
    d = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 10 < 3,
               F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"), F.col("doc_id"))
    issued = F.date_format(
        F.expr("date_add(DATE'2020-01-01', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    entry = F.concat(F.lit("<url><loc>"), url, F.lit("</loc><lastmod>"),
                     issued, F.lit("</lastmod><priority>0."),
                     F.col("doc_id") % 10, F.lit("</priority></url>"))
    xml = (d.groupBy((F.col("doc_id") % 10 < 3).alias("hot"),
                     F.expr("doc_id div 100").alias("chunk"))
           .agg(F.concat(
               F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset '
                     'xmlns="http://www.sitemaps.org/schemas/'
                     'sitemap/0.9">'),
               F.concat_ws("", F.sort_array(F.collect_list(entry))),
               F.lit("</urlset>")).alias("xml_str"))
           .select(F.encode("xml_str", "UTF-8").alias("xml")))
    return sitemap_entries(xml).orderBy("loc")


@query("crawl_frontier", oracle="WITH " + _F_CTE + """,
    u AS (
      SELECT url,
             CASE WHEN doc_id % 10 < 3 THEN 'hot.example.org'
                  ELSE 'example.org' END AS host
      FROM f),
    hosts AS (
      SELECT host, CAST(ROW_NUMBER() OVER (ORDER BY host)
                        AS BIGINT) - 1 AS host_idx
      FROM (SELECT DISTINCT host FROM u)),
    nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts
           FROM hosts),
    r AS (
      SELECT url, host,
             CAST(ROW_NUMBER() OVER (PARTITION BY host
                  ORDER BY url) AS BIGINT) AS rank_in_host
      FROM u)
    SELECT r.url, r.host, r.rank_in_host,
           (r.rank_in_host - 1) * nh.n_hosts + h.host_idx
             AS slot
    FROM r JOIN hosts h ON r.host = h.host CROSS JOIN nh
    ORDER BY slot""")
def _q_crawl_frontier(spark, sf_dir):
    """Mercator-style politeness frontier: round-robin interleave of
    hosts via slot = (rank_in_host - 1) * n_hosts + host_idx — no
    global row_number anywhere."""
    return (frontier_schedule(_docs(spark, sf_dir).select("url"))
            .orderBy("slot"))


# closed-form diff: %4==3 added, %4==1 removed, %8==0 changed
@query("crawl_sitemap_diff", oracle="WITH " + _F_CTE + """,
    s AS (
      SELECT url AS loc, doc_id, issued,
             strftime(DATE '2020-01-02'
               + INTERVAL ((doc_id * 37) % 1461) DAY,
               '%Y-%m-%d') AS shifted
      FROM f)
    SELECT loc,
           CASE WHEN doc_id % 4 = 3 THEN 'added'
                WHEN doc_id % 4 = 1 THEN 'removed'
                WHEN doc_id % 8 = 0 THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN doc_id % 4 = 3 THEN NULL
                ELSE issued END AS old_lastmod,
           CASE WHEN doc_id % 4 = 1 THEN NULL
                WHEN doc_id % 8 = 0 THEN shifted
                ELSE issued END AS new_lastmod
    FROM s ORDER BY loc""")
def _q_sitemap_diff(spark, sf_dir):
    """Recrawl planning: diff two planted crawl snapshots — old has
    doc_id % 4 != 3, new has % 4 != 1, and every % 8 == 0 doc's
    lastmod shifted a day — so all four statuses occur."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"), did)
    issued = F.date_format(
        F.expr("date_add(DATE'2020-01-01', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    shifted = F.date_format(
        F.expr("date_add(DATE'2020-01-02', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    old = (d.where(did % 4 != 3)
           .select(url.alias("loc"), issued.alias("lastmod")))
    new = (d.where(did % 4 != 1)
           .select(url.alias("loc"),
                   F.when(did % 8 == 0, shifted).otherwise(issued)
                   .alias("lastmod")))
    return sitemap_diff(old, new).orderBy("loc")


# doc_id%4: 0 -> both, 1 -> noindex (mixed case), 2 ->
# nofollow, 3 -> neither
@query("crawl_robots_meta", oracle="""
    SELECT 'https://example.org/robots/' || doc_id AS url,
           (doc_id % 4) IN (0, 1) AS noindex,
           (doc_id % 4) IN (0, 2) AS nofollow
    FROM documents ORDER BY url""")
def _q_robots_meta(spark, sf_dir):
    """Robots-meta verdicts: doc_id%4 plants 'noindex, nofollow' /
    'NoIndex' (case test) / 'nofollow' / no meta at all."""
    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    meta = (F.when(m == 0, '<meta name="robots" '
                           'content="noindex, nofollow"/>')
            .when(m == 1, '<meta name="ROBOTS" content="NoIndex"/>')
            .when(m == 2, '<meta name="robots" content="nofollow"/>')
            .otherwise(""))
    html = F.concat(F.lit("<html><head>"), meta,
                    F.lit("</head><body>x</body></html>"))
    pages = d.select(
        F.concat(F.lit("https://example.org/robots/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return robots_meta(pages).orderBy("url")


# 4 links per page in document order; rel=nofollow and
# 'ugc nofollow' never follow; meta nofollow (every 5th doc)
# kills the rest too
@query("crawl_follow_edges", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/page/' || doc_id AS src,
             doc_id % 5 <> 0 AS page_follow
      FROM documents),
    e AS (
      SELECT src AS src_url, 0 AS position,
             'https://example.org/plain/' || doc_id AS href,
             page_follow AS follow FROM d
      UNION ALL
      SELECT src, 1, 'https://example.org/nf/' || doc_id,
             FALSE FROM d
      UNION ALL
      SELECT src, 2, 'https://example.org/ugc/' || doc_id,
             FALSE FROM d
      UNION ALL
      SELECT src, 3, 'https://example.org/me/' || doc_id,
             page_follow FROM d)
    SELECT src_url, CAST(position AS INT) AS position, href,
           follow
    FROM e ORDER BY src_url, position""")
def _q_follow_edges(spark, sf_dir):
    """Follow/nofollow edge extraction: rel=nofollow (incl. as one
    token of 'ugc nofollow'), page-level meta nofollow on every 5th
    doc, other rel tokens harmless."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    meta = F.when(did % 5 == 0,
                  '<meta name="robots" content="nofollow"/>') \
        .otherwise("")
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body>"),
        F.lit('<a href="https://example.org/plain/'), did,
        F.lit('">p</a><a rel="nofollow" '
              'href="https://example.org/nf/'), did,
        F.lit('">n</a><a rel="ugc nofollow" '
              'href="https://example.org/ugc/'), did,
        F.lit('">u</a><a rel="me" href="https://example.org/me/'),
        did, F.lit('">m</a></body></html>'))
    pages = d.select(
        F.concat(F.lit("https://example.org/page/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return follow_edges(pages).orderBy("src_url", "position")


# two entries per feed; RSS entry B has no pubDate (NULL),
# Atom entry A's published beats updated, B falls back to
# updated
@query("crawl_feed_entries", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/feed/' || doc_id AS furl,
             doc_id % 2 = 0 AS is_rss
      FROM documents),
    e AS (
      SELECT furl AS feed_url, 0 AS idx,
             'Post ' || doc_id || ' A' AS title,
             'https://example.org/p/' || doc_id || '/a'
               AS link,
             'tag:' || doc_id || ':a' AS entry_id,
             CASE WHEN is_rss THEN 'Mon, 01 Jan 2024'
                  ELSE '2024-01-01T00:00:00Z'
             END AS published
      FROM d
      UNION ALL
      SELECT furl, 1, 'Post ' || doc_id || ' B',
             'https://example.org/p/' || doc_id || '/b',
             'tag:' || doc_id || ':b',
             CASE WHEN is_rss THEN NULL
                  ELSE '2024-02-01T00:00:00Z' END
      FROM d)
    SELECT feed_url, CAST(idx AS INT) AS idx, title, link,
           entry_id, published
    FROM e ORDER BY feed_url, idx""")
def _q_feed_entries(spark, sf_dir):
    """RSS 2.0 (even doc_id) and Atom (odd) feeds, two entries each:
    entry A carries all fields (Atom: published AND updated —
    published must win), entry B omits the date (RSS -> NULL;
    Atom falls back to updated)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>Feed '), s,
        F.lit("</title><item><title>Post "), s,
        F.lit(" A</title><link>https://example.org/p/"), s,
        F.lit("/a</link><guid>tag:"), s,
        F.lit(":a</guid><pubDate>Mon, 01 Jan 2024</pubDate></item>"
              "<item><title>Post "), s,
        F.lit(" B</title><link>https://example.org/p/"), s,
        F.lit("/b</link><guid>tag:"), s,
        F.lit(":b</guid></item></channel></rss>"))
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'
              "<title>Feed "), s,
        F.lit("</title><entry><title>Post "), s,
        F.lit(' A</title><link href="https://example.org/p/'), s,
        F.lit('/a"/><id>tag:'), s,
        F.lit(":a</id><published>2024-01-01T00:00:00Z</published>"
              "<updated>2024-02-01T00:00:00Z</updated></entry>"
              "<entry><title>Post "), s,
        F.lit(' B</title><link href="https://example.org/p/'), s,
        F.lit('/b"/><id>tag:'), s,
        F.lit(":b</id><updated>2024-02-01T00:00:00Z</updated>"
              "</entry></feed>"))
    xml = F.when(did % 2 == 0, rss).otherwise(atom)
    feeds = d.select(
        F.concat(F.lit("https://example.org/feed/"), s)
        .alias("feed_url"),
        F.encode(xml, "UTF-8").alias("xml"))
    return feed_entries(feeds).orderBy("feed_url", "idx")


# even docs: the exact ferendabot group's single rule; odd:
# the * group's two rules in file order
@query("crawl_parse_robots", oracle="""
    WITH d AS (
      SELECT doc_id,
             'h' || doc_id || '.example.org' AS host
      FROM documents),
    r AS (
      SELECT host, '/bot' || (doc_id % 5) AS path_prefix,
             FALSE AS allow, 0 AS rule_no
      FROM d WHERE doc_id % 2 = 0
      UNION ALL
      SELECT host, '/private', FALSE, 0
      FROM d WHERE doc_id % 2 = 1
      UNION ALL
      SELECT host, '/private/ok' || (doc_id % 3), TRUE, 1
      FROM d WHERE doc_id % 2 = 1)
    SELECT host, path_prefix, allow,
           CAST(rule_no AS INT) AS rule_no
    FROM r ORDER BY host, rule_no""")
def _q_parse_robots(spark, sf_dir):
    """robots.txt parsing for agent=ferendabot: exact group shadows
    ``*`` on even docs, odd docs fall back to the ``*`` rules."""
    return (parse_robots(_robots_texts(spark, sf_dir),
                         agent="ferendabot")
            .orderBy("host", "rule_no"))


# delay comes only from the MATCHED group (ferendabot has
# none -> NULL on even docs); sitemaps are group-independent
@query("crawl_robots_host_meta", oracle="""
    SELECT 'h' || doc_id || '.example.org' AS host,
           CAST(CASE WHEN doc_id % 2 = 0 THEN NULL
                ELSE 2000 END AS BIGINT) AS crawl_delay_ms,
           'https://h' || doc_id
             || '.example.org/sitemap.xml' AS sitemap,
           0 AS sitemap_no
    FROM documents ORDER BY host, sitemap_no""")
def _q_robots_host_meta(spark, sf_dir):
    """Crawl-delay + sitemap side channels: the matched ferendabot
    group has no delay (NULL on even docs); ``*`` fallback carries
    2000 ms; the sitemap line is group-independent."""
    return (robots_host_meta(_robots_texts(spark, sf_dir),
                             agent="ferendabot")
            .orderBy("host", "sitemap_no"))


# one SURT key per doc (www/:443/utm noise collapses), 3
# captures, 2 distinct digests
@query("crawl_cdx_index", oracle="""
    SELECT 'org,example,h' || (doc_id % 50) || ')/page/'
             || doc_id || '?q=1' AS surt,
           CAST(3 AS BIGINT) AS n_captures,
           CAST(2 AS BIGINT) AS n_versions,
           '2024-01-01' AS first_ts,
           '2024-01-03' AS last_ts
    FROM documents ORDER BY surt""")
def _q_cdx_index(spark, sf_dir):
    """CDX capture index: three captures per doc whose raw URLs
    differ in www/:443/utm noise but canonicalize+SURT to one key;
    digests give 2 distinct versions."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    h = (did % 50).cast("string")
    tail = F.concat(F.lit(".example.org/page/"), s)
    cap = lambda url, ts, dg: d.select(
        url.alias("url"), F.lit(ts).alias("warc_ts"),
        dg.alias("digest"))
    c1 = cap(F.concat(F.lit("https://WWW.h"), h, tail,
                      F.lit("?utm_source=x&q=1")),
             "2024-01-01", F.concat(F.lit("d"), (did % 2)))
    c2 = cap(F.concat(F.lit("https://h"), h, F.lit(".example.org:443"
                      ), F.lit("/page/"), s, F.lit("?q=1")),
             "2024-01-02", F.concat(F.lit("d"), (did % 2)))
    c3 = cap(F.concat(F.lit("https://h"), h, tail, F.lit("?q=1")),
             "2024-01-03", F.lit("dX"))
    return (cdx_index(c1.unionByName(c2).unionByName(c3))
            .orderBy("surt"))


# exact replay of the bias-corrected Poisson estimator:
# n = 3 intervals, X = c1+c2+c3 planted changes, mean
# interval = iv exactly, same IEEE ln/div/floor sequence
@query("crawl_recrawl_schedule", oracle="""
    WITH d AS (SELECT doc_id,
           'https://example.org/r/' || doc_id AS url,
           (1 + doc_id % 5) * 3600 AS iv,
           (CASE WHEN (doc_id // 1) % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN (doc_id // 2) % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN (doc_id // 3) % 2 = 0 THEN 1 ELSE 0 END)
           AS x,
           doc_id % 4 = 3 AS single
           FROM documents),
    est AS (SELECT url,
           CASE WHEN single THEN CAST(1 AS BIGINT)
                ELSE 4 END AS n_visits,
           CASE WHEN single THEN CAST(0 AS BIGINT)
                ELSE CAST(x AS BIGINT) END AS n_changes,
           CASE WHEN single THEN NULL
                ELSE -ln((3 - x + 0.5) / 3.5)
                     / CAST(iv AS DOUBLE) END AS lambda_hat,
           CASE WHEN single THEN 1000000
                ELSE 1000000 + 3 * iv END AS last_ts
           FROM d)
    SELECT url, n_visits, n_changes, lambda_hat,
           CAST(last_ts + CASE
                WHEN lambda_hat IS NULL OR lambda_hat <= 0.0
                THEN 2592000
                ELSE least(2592000, greatest(3600,
                     CAST(floor(1.0 / lambda_hat) AS BIGINT)))
                END AS BIGINT) AS next_fetch
    FROM est ORDER BY url""")
def _q_recrawl_schedule(spark, sf_dir):
    """Cho–Garcia-Molina recrawl scheduling over a closed-form fetch
    log: 4 visits at interval (1+doc_id%5)*3600 s (single visit when
    doc_id%4==3); the content hash increments at visit j in 1..3 iff
    (doc_id div j)%2==0, so n_changes = c1+c2+c3 and every estimator
    branch (X=0 -> max wait, X=3 -> min clamp) is exercised; the
    oracle replays the exact IEEE ln/divisions."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    nv = F.when(did % 4 == 3, 0).otherwise(3)
    obs = d.select(did.alias("doc_id"),
                   F.explode(F.sequence(F.lit(0), nv)).alias("k"))
    k = F.col("k")

    def chg(j):
        return F.when((F.expr("(doc_id div %d) %% 2" % j) == 0)
                      & (k >= j), 1).otherwise(0)

    iv = (F.lit(1) + F.col("doc_id") % 5) * 3600
    obs = obs.select(
        F.format_string("https://example.org/r/%d", F.col("doc_id"))
        .alias("url"),
        (F.lit(1000000) + k * iv).cast("long").alias("fetch_ts"),
        F.format_string("c%d", chg(1) + chg(2) + chg(3))
        .alias("content_hash"))
    return recrawl_schedule(obs).orderBy("url")


@query("crawl_url_templates", oracle="""
    WITH d AS (SELECT doc_id, doc_id % 3 AS r,
           's' || (doc_id % 4) || '.example.org' AS host
           FROM documents),
    base AS (SELECT
           CASE r WHEN 0 THEN host || '/item/{n}/view'
                  WHEN 1 THEN host || '/cal/{n}/{n}'
                  ELSE host || '/doc/{h}' END AS template,
           CASE r WHEN 2 THEN 2 ELSE 3 END AS depth,
           CASE r WHEN 0 THEN 'c' || doc_id
                  WHEN 1 THEN 'cal'
                  ELSE 'c' || (doc_id % 10) END AS h
           FROM d)
    SELECT template, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(COUNT(DISTINCT h) AS BIGINT)
             AS n_distinct_content,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT h)
             AS urls_per_content
    FROM base GROUP BY template ORDER BY template""")
def _q_url_templates(spark, sf_dir):
    """URL template mining + trap signals over three closed-form page
    families per host s(doc_id%4): /item/{n}/view (distinct content),
    /cal/{n}/{n} (a calendar trap: one shared content hash), and
    /doc/{h} (8-hex-char ids, content = c(doc_id%10)); the oracle
    groups the same closed-form templates."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.format_string("s%d.example.org", did % 4)
    r = did % 3
    path = (F.when(r == 0, F.format_string("/item/%d/view",
                                           did % 100000))
            .when(r == 1, F.format_string("/cal/%d/%d",
                                          did % 12 + 1, did % 28 + 1))
            .otherwise(F.format_string("/doc/%08x", did % 1000000)))
    h = (F.when(r == 0, F.format_string("c%d", did))
         .when(r == 1, F.lit("cal"))
         .otherwise(F.format_string("c%d", did % 10)))
    urls = d.select(
        F.concat(F.lit("https://"), host, path).alias("url"),
        h.alias("content_hash"))
    return (url_templates(urls, hash_col="content_hash")
            .orderBy("template"))


# DUST param mining: same URL synthesis as the Spark side,
# parsed back with SQL string ops (host = 3rd slash field,
# residual = sorted other params)
@query("crawl_param_significance", oracle="WITH " + _F_CTE + r""",
    combos AS (
      SELECT f.doc_id, f.url AS base, p.p, v.v
      FROM f, (VALUES (1), (2)) p(p),
           (VALUES ('a'), ('b')) v(v)),
    u AS (
      SELECT base || '?page=' || p || '&sessionid=s'
               || doc_id || v AS url,
             md5(doc_id || '-' || p) AS h
      FROM combos),
    parsed AS (
      SELECT url, h,
             string_split(url, '/')[3] AS host,
             '/' || array_to_string(
               string_split(string_split(url, '?')[1],
                            '/')[4:], '/') AS path,
             string_split(url, '?')[2] AS q
      FROM u),
    ex AS (
      SELECT host, path, h, q,
             unnest(string_split(q, '&')) AS kv
      FROM parsed),
    pr AS (
      SELECT host, path, h,
             string_split(kv, '=')[1] AS param,
             string_split(kv, '=')[2] AS val,
             array_to_string(list_sort(list_filter(
               string_split(q, '&'),
               x -> string_split(x, '=')[1]
                    <> string_split(kv, '=')[1])), '&')
               AS residual
      FROM ex),
    g AS (
      SELECT host, path, param, residual,
             COUNT(DISTINCT val) AS nv,
             COUNT(DISTINCT h) AS nh
      FROM pr GROUP BY 1, 2, 3, 4
      HAVING COUNT(DISTINCT val) >= 2)
    SELECT host, param,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_varying,
           CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT)
             AS significance_ppm,
           SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END) = 0
             AS droppable
    FROM g GROUP BY host, param
    ORDER BY host, param""")
def _q_param_significance(spark, sf_dir):
    """DUST-rule mining over planted query parameters: every doc
    yields 4 URLs crossing page in {1,2} x sessionid suffix in
    {a,b}; content hash depends on (doc_id, page) only.  Expected
    verdicts: `page` significance_ppm 1000000 (selects content), `sessionid`
    0.0 (droppable) — per host, so the frontier's canonicalization
    rule is host-scoped like the reference crawler's."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"),
        did.cast("string"))
    combo = F.explode(F.array(*[
        F.struct(F.lit(p).alias("p"), F.lit(v).alias("v"))
        for p in (1, 2) for v in ("a", "b")])).alias("c")
    urls = (d.select(did.alias("doc_id"), base.alias("_b"), combo)
            .select(
                F.concat(F.col("_b"), F.lit("?page="),
                         F.col("c.p").cast("string"),
                         F.lit("&sessionid=s"),
                         F.col("doc_id").cast("string"),
                         F.col("c.v")).alias("url"),
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit("-"),
                               F.col("c.p").cast("string")))
                .alias("content_hash")))
    return (param_significance(urls).orderBy("host", "param"))


# the three closed-form path families collapse to one
# template each per host
# suffix-chain blocklist: hosts closed-form in doc_id; the
# matched suffix is the longest (most specific) rule
@query("crawl_blocklist_filter", oracle="""
    WITH u AS (
      SELECT 'https://' ||
             (CASE doc_id % 4
                WHEN 0 THEN 'a.b.spam.test'
                WHEN 1 THEN 'c.spam.test'
                WHEN 2 THEN 'ok.example.org'
                ELSE 'good.net' END) || '/p/' || doc_id
               AS url,
             CASE doc_id % 4
                WHEN 0 THEN 'a.b.spam.test'
                WHEN 1 THEN 'c.spam.test'
                WHEN 2 THEN 'ok.example.org'
                ELSE 'good.net' END AS host
      FROM documents),
    bl AS (SELECT unnest(['spam.test', 'bad.org'])
             AS suffix),
    ex AS (
      SELECT url, host,
             array_to_string(
               string_split(host, '.')[i:], '.') AS suffix
      FROM u, LATERAL (
        SELECT unnest(generate_series(1,
          len(string_split(host, '.')))) AS i) s),
    hits AS (
      SELECT ex.url,
             max_by(ex.suffix, length(ex.suffix)) AS ms
      FROM ex JOIN bl ON ex.suffix = bl.suffix
      GROUP BY ex.url)
    SELECT u.url, u.host, hits.url IS NOT NULL AS blocked,
           hits.ms AS matched_suffix
    FROM u LEFT JOIN hits ON u.url = hits.url
    ORDER BY u.url""")
def _q_blocklist_filter(spark, sf_dir):
    """Registrable-suffix blocklist over four planted host families
    (a.b.spam.test / c.spam.test / ok.example.org / good.net) with
    rules [spam.test, bad.org]: subdomains at any depth of a blocked
    suffix are caught, unrelated hosts pass, and the most specific
    matching rule is reported."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = (F.when(did % 4 == 0, F.lit("a.b.spam.test"))
            .when(did % 4 == 1, F.lit("c.spam.test"))
            .when(did % 4 == 2, F.lit("ok.example.org"))
            .otherwise(F.lit("good.net")))
    urls = d.select(F.concat(F.lit("https://"), host, F.lit("/p/"),
                             did.cast("string")).alias("url"))
    bl = spark.createDataFrame([("spam.test",), ("bad.org",)],
                               "domain string")
    return blocklist_filter(urls, bl).orderBy("url")


# full relational replay of the mirror program: distinct
# (host, hash), >16-host template guard, self-join, size join
@query("crawl_mirror_hosts", oracle="""
    WITH rows AS (
      SELECT 'a' || (doc_id % 3) || '.example.org' AS host,
             'x' || ((doc_id // 3) % 7) AS h FROM documents
      UNION ALL
      SELECT 'a' || (doc_id % 3) || '.example.org', 'boiler'
      FROM documents
      UNION ALL
      SELECT 'b' || (doc_id % 20) || '.example.org', 'boiler'
      FROM documents
      UNION ALL
      SELECT 'p' || (doc_id % 2) || '.example.org',
             'y' || ((doc_id % 2) * 2 + (doc_id // 2) % 6)
      FROM documents),
    hh AS (SELECT DISTINCT host, h FROM rows),
    keep AS (SELECT h FROM hh GROUP BY h
             HAVING COUNT(*) <= 16),
    hk AS (SELECT hh.host, hh.h FROM hh JOIN keep USING (h)),
    sizes AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n
              FROM hk GROUP BY host),
    shared AS (SELECT a.host AS host_a, b.host AS host_b,
                      CAST(COUNT(*) AS BIGINT) AS n_shared
               FROM hk a JOIN hk b
                 ON a.h = b.h AND a.host < b.host
               GROUP BY a.host, b.host
               HAVING COUNT(*) >= 2)
    SELECT s.host_a, s.host_b, s.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(s.n_shared AS DOUBLE) / least(sa.n, sb.n)
             AS overlap
    FROM shared s
    JOIN sizes sa ON sa.host = s.host_a
    JOIN sizes sb ON sb.host = s.host_b
    ORDER BY s.host_a, s.host_b""")
def _q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection over four closed-form (host, hash) page
    families: 3 'a' hosts sharing all 7 x-hashes (full mirrors), a
    'boiler' hash served by 23 hosts (> max_hosts_per_hash, so the
    template guard must drop it — without the guard every a-pair
    gains a shared hash and 20 b-hosts appear), and 2 'p' hosts with
    a partial 4-of-6 overlap; the oracle replays the distinct /
    guard / self-join / size-join program."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ah = F.format_string("a%d.example.org", did % 3)
    a = d.select(ah.alias("host"),
                 F.format_string("x%d", F.expr("(doc_id div 3) % 7"))
                 .alias("content_hash"))
    ab = d.select(ah.alias("host"), F.lit("boiler").alias("content_hash"))
    bb = d.select(F.format_string("b%d.example.org", did % 20)
                  .alias("host"), F.lit("boiler").alias("content_hash"))
    p = d.select(F.format_string("p%d.example.org", did % 2).alias("host"),
                 F.format_string(
                     "y%d", (did % 2) * 2 + F.expr("(doc_id div 2) % 6"))
                 .alias("content_hash"))
    pages = a.unionByName(ab).unionByName(bb).unionByName(p)
    return mirror_hosts(pages).orderBy("host_a", "host_b")


# same window (priority DESC, url ASC) + offset arithmetic;
# h0-h2 have robots delays 5/10/15, the rest default to 10
@query("crawl_politeness_slots", oracle="""
    WITH f AS (SELECT
           'https://h' || (doc_id % 6) || '.example.org/u/'
             || doc_id AS url,
           'h' || (doc_id % 6) || '.example.org' AS host,
           (doc_id * 13) % 50 AS priority,
           CASE WHEN doc_id % 6 < 3
                THEN 5 * (doc_id % 6 + 1)
                ELSE 10 END AS crawl_delay
           FROM documents),
    r AS (SELECT url, host, crawl_delay,
           CAST(ROW_NUMBER() OVER (PARTITION BY host
                ORDER BY priority DESC, url) AS BIGINT)
             AS "rank"
          FROM f)
    SELECT url, host, "rank",
           CAST(("rank" - 1) * crawl_delay AS BIGINT)
             AS fetch_offset_s
    FROM r ORDER BY host, "rank" """)
def _q_politeness_slots(spark, sf_dir):
    """Per-host politeness fetch slots over a 6-host frontier with
    colliding priorities ((doc_id*13)%50, so the url ASC tie-break is
    exercised); hosts h0-h2 carry robots crawl delays 5/10/15 s,
    h3-h5 fall back to the 10 s default; the oracle replays the
    window + offset arithmetic."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    frontier = d.select(
        F.format_string("https://h%d.example.org/u/%d", did % 6, did)
        .alias("url"),
        F.format_string("h%d.example.org", did % 6).alias("host"),
        ((did * 13) % 50).alias("priority"))
    delays = spark.createDataFrame(
        [("h%d.example.org" % i, 5 * (i + 1)) for i in range(3)],
        "host string, crawl_delay long")
    return (politeness_schedule(frontier, delays, default_delay=10)
            .orderBy("host", "rank"))


# group on the stripped base URL, ORDER BY (page_no, text)
# concatenation, contiguity flag
@query("crawl_stitched_pages", oracle="""
    WITH p AS (SELECT doc_id, doc_id // 3 AS art,
           doc_id % 3 + 1 AS page_no, 'P' || doc_id AS text
           FROM documents
           WHERE NOT ((doc_id // 3) % 5 = 0
                      AND doc_id % 3 = 1)),
    b AS (SELECT 'https://s' || (art % 4)
                 || '.example.org/art/' || art AS base_url,
                 page_no, text FROM p)
    SELECT base_url, CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(MIN(page_no) AS BIGINT) AS min_page,
           CAST(MAX(page_no) AS BIGINT) AS max_page,
           string_agg(text, chr(10)
                      ORDER BY page_no, text) AS full_text,
           (MIN(page_no) <> 1
            OR MAX(page_no) - MIN(page_no) + 1 <> COUNT(*))
             AS has_gaps
    FROM b GROUP BY base_url ORDER BY base_url""")
def _q_stitched_pages(spark, sf_dir):
    """Pagination stitching: 3-page articles (article = doc_id div 3,
    page = doc_id%3+1; page 1 is the bare URL, 2-3 carry ?page=N) with
    page 2 dropped for every 5th article so has_gaps fires; the oracle
    replays the group + ORDER BY (page_no, text) concatenation."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    art = F.expr("doc_id div 3")
    page = did % 3 + 1
    base = F.format_string("https://s%d.example.org/art/%d",
                           art % 4, art)
    url = F.when(page == 1, base).otherwise(
        F.concat(base, F.lit("?page="), page.cast("string")))
    pages = (d.where(~((art % 5 == 0) & (did % 3 == 1)))
             .select(url.alias("url"),
                     F.format_string("P%d", did).alias("text")))
    return stitch_paginated(pages).orderBy("base_url")


# closed form: %11 hits the host's planted error hash, %13
# the not-found title
@query("crawl_soft404", oracle="""
    WITH p AS (SELECT
           'https://s' || (doc_id % 5) || '.example.org/p/'
             || doc_id AS url,
           's' || (doc_id % 5) || '.example.org' AS host,
           doc_id % 11 = 0 AS hm,
           doc_id % 13 = 0 AS tm
           FROM documents)
    SELECT url, host,
           CASE WHEN hm AND tm THEN 'both'
                WHEN hm THEN 'error_template'
                ELSE 'title' END AS reason
    FROM p WHERE hm OR tm ORDER BY url""")
def _q_soft404(spark, sf_dir):
    """Soft-404 detection over 5 hosts with known error-template
    hashes: doc_id%11==0 serves its host's error hash, %13==0 carries
    a not-found title (%143==0 triggers both); the oracle replays the
    broadcast probe join + title regex."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    pages = d.select(
        F.format_string("https://s%d.example.org/p/%d", did % 5, did)
        .alias("url"),
        F.format_string("s%d.example.org", did % 5).alias("host"),
        F.when(did % 11 == 0, F.format_string("err%d", did % 5))
        .otherwise(F.format_string("c%d", did)).alias("content_hash"),
        F.when(did % 13 == 0, F.lit("Page Not Found"))
        .otherwise(F.format_string("Doc %d", did)).alias("title"))
    probes = spark.createDataFrame(
        [("s%d.example.org" % i, "err%d" % i) for i in range(5)],
        "host string, probe_hash string")
    return soft404(pages, probes).orderBy("url")


# Hamilton largest-remainder: one-division quotas, floors,
# fractional ranks (host ASC tie-break)
@query("crawl_budget_allocation", oracle="""
    WITH h AS (SELECT 'h' || (doc_id % 23) || '.example.org'
                      AS host,
               CAST(COUNT(*) AS BIGINT) AS weight
               FROM documents GROUP BY 1),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_total
            FROM h),
    q AS (SELECT host, weight,
          CAST(1000 * weight AS DOUBLE) / w_total AS quota
          FROM h, tot),
    qb AS (SELECT host, weight, quota,
           CAST(floor(quota) AS BIGINT) AS base FROM q),
    used AS (SELECT CAST(SUM(base) AS BIGINT) AS b_used
             FROM qb),
    rk AS (SELECT qb.*, used.b_used,
           CAST(ROW_NUMBER() OVER (ORDER BY quota - base DESC,
                host) AS BIGINT) AS r
           FROM qb, used)
    SELECT host, weight, quota, base,
           CASE WHEN r <= 1000 - b_used
                THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS extra,
           base + CASE WHEN r <= 1000 - b_used THEN 1
                       ELSE 0 END AS allocation
    FROM rk ORDER BY host""")
def _q_budget_allocation(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a 1000-fetch budget
    across 23 hosts weighted by document count; the oracle replays the
    single-division quotas, floors, and fractional-remainder ranks."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    hosts = (d.select(F.format_string("h%d.example.org", did % 23)
                      .alias("host"))
             .groupBy("host")
             .agg(F.count(F.lit(1)).cast("long").alias("weight")))
    return allocate_crawl_budget(hosts, budget=1000).orderBy("host")


@query("crawl_rel_canonical", oracle=_rel_canonical_oracle())
def _q_rel_canonical(spark, sf_dir):
    """rel=canonical election over planted variant groups of 4 (the
    leader declares itself -- excluded; every 7th group's leader is
    missing from the corpus so target_in_corpus is false); the oracle
    replays the regexp extraction and the fetched-set join."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    grp = F.expr("(doc_id div 4) * 4")
    target = (F.when(F.expr("doc_id div 4") % 7 == 0,
                     F.format_string("https://ex.org/missing/%d",
                                     F.expr("doc_id div 4")))
              .otherwise(F.format_string("https://ex.org/p/%d", grp)))
    pages = d.select(
        F.format_string("https://ex.org/p/%d", did).alias("url"),
        F.concat(F.lit('<html><head><link rel="canonical" href="'),
                 target, F.lit('"></head><body>x</body></html>'))
        .alias("html"))
    return rel_canonical(pages).orderBy("canonical_url")


# closed-form planted trap shapes: depth/dups/calendar/params
# are functions of doc_id % 4 alone
@query("crawl_trap_detection", oracle="""
    WITH shapes AS (
      SELECT doc_id, doc_id % 4 AS s,
             CASE doc_id % 4
               WHEN 0 THEN 'https://example.org/docs/' || source
                           || '/' || doc_id
               WHEN 1 THEN 'https://example.org/a/b/a/b/a/b/c/item'
                           || doc_id
               WHEN 2 THEN 'https://example.org/archive/2020/'
                           || (1 + doc_id % 12) || '/'
                           || (13 + doc_id % 16) || '/item'
                           || doc_id
               ELSE 'https://example.org/docs/' || source || '/'
                    || doc_id
                    || '?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8='
                    || doc_id
             END AS url
      FROM documents),
    sig AS (
      SELECT url,
             CAST(CASE s WHEN 0 THEN 3 WHEN 1 THEN 8
                  WHEN 2 THEN 5 ELSE 3 END AS BIGINT)
               AS path_depth,
             CAST(CASE s WHEN 1 THEN 4 ELSE 0 END AS BIGINT)
               AS dup_segments,
             CAST(CASE s WHEN 2 THEN 1 ELSE 0 END AS BIGINT)
               AS has_calendar,
             CAST(CASE s WHEN 3 THEN 8 ELSE 0 END AS BIGINT)
               AS n_params
      FROM shapes),
    scored AS (
      SELECT *,
             2 * GREATEST(path_depth - 6, 0) + 3 * dup_segments
             + 2 * has_calendar + GREATEST(n_params - 3, 0)
               AS trap_score
      FROM sig)
    SELECT url, path_depth, dup_segments, has_calendar,
           n_params, CAST(trap_score AS BIGINT) AS trap_score,
           CAST(CASE WHEN trap_score >= 4 THEN 1 ELSE 0 END
                AS BIGINT) AS is_trap
    FROM scored ORDER BY url""")
def _q_trap_detection(spark, sf_dir):
    """Crawler-trap scoring over four planted URL families (benign
    shallow path / self-similar repeating path / calendar archive /
    parameter explosion); the oracle replays the same closed-form
    shapes.  Day segment is planted >= 13 and the leaf id prefixed
    so no accidental segment collisions perturb dup counts."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sid = did.cast("string")
    shape = did % 4
    url = (F.when(shape == 0,
                  F.concat(F.lit("https://example.org/docs/"),
                           F.col("source"), F.lit("/"), sid))
           .when(shape == 1,
                 F.concat(F.lit("https://example.org/a/b/a/b/a/b/c/item"),
                          sid))
           .when(shape == 2,
                 F.concat(F.lit("https://example.org/archive/2020/"),
                          (1 + did % 12).cast("string"), F.lit("/"),
                          (13 + did % 16).cast("string"),
                          F.lit("/item"), sid))
           .otherwise(
                 F.concat(F.lit("https://example.org/docs/"),
                          F.col("source"), F.lit("/"), sid,
                          F.lit("?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7"
                                "&p8="), sid)))
    return (trap_detection(d.select(url.alias("url")))
            .orderBy("url"))


@query("crawl_warc_revisit", oracle="""
    WITH caps AS (
      SELECT 'https://example.org/page/' || doc_id AS url,
             '2024-01-01' AS warc_ts,
             'dg' || (doc_id % 2) AS digest
      FROM documents
      UNION ALL
      SELECT 'https://example.org/page/' || doc_id,
             '2024-01-02', 'dg' || (doc_id % 2)
      FROM documents
      UNION ALL
      SELECT 'https://example.org/page/' || doc_id,
             '2024-01-03',
             CASE WHEN doc_id % 3 = 0
                  THEN 'dg' || (doc_id % 2) ELSE 'dgX' END
      FROM documents),
    x AS (
      SELECT *,
             row_number() OVER (PARTITION BY url, digest
                                ORDER BY warc_ts) AS rn,
             MIN(warc_ts) OVER (PARTITION BY url, digest)
               AS f
      FROM caps)
    SELECT url, warc_ts, digest,
           CASE WHEN rn = 1 THEN 'response'
                ELSE 'revisit' END AS record_type,
           CASE WHEN rn > 1 THEN f END AS refers_to_ts
    FROM x ORDER BY url, warc_ts""")
def _q_crawl_warc_revisit(spark, sf_dir):
    """WARC revisit planning over three planted captures per URL:
    first two share a digest (second becomes a revisit pointing at
    the first), third repeats it only when doc_id % 3 == 0 — the
    oracle replays the same per-(url, digest) window."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/page/"),
                   did.cast("string"))
    dg1 = F.concat(F.lit("dg"), (did % 2).cast("string"))
    dg3 = F.when(did % 3 == 0, dg1).otherwise(F.lit("dgX"))
    cap = lambda ts, dg: d.select(  # noqa: E731
        url.alias("url"), F.lit(ts).alias("warc_ts"),
        dg.alias("digest"))
    caps = (cap("2024-01-01", dg1)
            .unionByName(cap("2024-01-02", dg1))
            .unionByName(cap("2024-01-03", dg3)))
    return warc_revisit(caps).orderBy("url", "warc_ts")


# OPIC: 3 unrolled cash-distribution rounds, integer-exact
@query("crawl_opic", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    edges AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b + 1, b + 2 FROM blk
      UNION ALL SELECT b + 2, b FROM blk
      UNION ALL SELECT b + 2, b + 5 FROM blk
      UNION ALL SELECT b + 5, b + 6 FROM blk
      UNION ALL SELECT b + 6, b + 5 FROM blk
      UNION ALL SELECT b + 6, b + 7 FROM blk),
    nodes AS (SELECT DISTINCT u AS node FROM edges
              UNION SELECT DISTINCT v FROM edges),
    odt AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS od
            FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    s0 AS (
      SELECT node, COALESCE(od, 0) AS od,
             1000000000000 // n AS cash,
             CAST(0 AS BIGINT) AS history
      FROM nodes LEFT JOIN odt USING (node), nn),
    s1 AS (
      SELECT s.node, s.od,
             CASE WHEN s.od > 0 THEN s.cash % s.od
                  ELSE s.cash END
               + COALESCE(r.recv, 0) AS cash,
             s.history
               + CASE WHEN s.od > 0
                      THEN s.cash - s.cash % s.od
                      ELSE 0 END AS history
      FROM s0 s LEFT JOIN (
        SELECT e.v AS node,
               SUM(p.cash // p.od) AS recv
        FROM edges e JOIN s0 p
          ON e.u = p.node AND p.od > 0
        GROUP BY e.v) r USING (node)),
    s2 AS (
      SELECT s.node, s.od,
             CASE WHEN s.od > 0 THEN s.cash % s.od
                  ELSE s.cash END
               + COALESCE(r.recv, 0) AS cash,
             s.history
               + CASE WHEN s.od > 0
                      THEN s.cash - s.cash % s.od
                      ELSE 0 END AS history
      FROM s1 s LEFT JOIN (
        SELECT e.v AS node,
               SUM(p.cash // p.od) AS recv
        FROM edges e JOIN s1 p
          ON e.u = p.node AND p.od > 0
        GROUP BY e.v) r USING (node)),
    s3 AS (
      SELECT s.node, s.od,
             CASE WHEN s.od > 0 THEN s.cash % s.od
                  ELSE s.cash END
               + COALESCE(r.recv, 0) AS cash,
             s.history
               + CASE WHEN s.od > 0
                      THEN s.cash - s.cash % s.od
                      ELSE 0 END AS history
      FROM s2 s LEFT JOIN (
        SELECT e.v AS node,
               SUM(p.cash // p.od) AS recv
        FROM edges e JOIN s2 p
          ON e.u = p.node AND p.od > 0
        GROUP BY e.v) r USING (node))
    SELECT node, CAST(od AS BIGINT) AS out_degree,
           CAST(cash AS BIGINT) AS cash,
           CAST(history AS BIGINT) AS history,
           CAST(cash + history AS BIGINT) AS priority
    FROM s3 ORDER BY node""")
def _q_crawl_opic(spark, sf_dir):
    """OPIC frontier prioritization (crawl.opic_priorities): 3
    synchronous cash-distribution rounds over a planted per-block
    digraph (3-cycle -> 2-cycle -> dangling sink), integer cash
    units so the oracle unrolls the SAME 3 rounds in SQL and matches
    bit-for-bit — algorithm-exact, not just converged-answer-exact
    (the kg_label_prop pattern)."""
    edges = block_edges(spark, sf_dir, [(0, 1), (1, 2), (2, 0), (2, 5), (5, 6),
                                        (6, 5), (6, 7)]).toDF("src", "dst")
    return opic_priorities(edges, rounds=3).orderBy("node")


# STRAND pairing replayed on the closed-form tagged table
@query("crawl_strand_pairs", oracle="""
    WITH tagged AS (
      SELECT 'h' || (doc_id % 2) || '.example.org' AS host,
             '/{lang}/page' || (doc_id // 4) AS template,
             CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                  WHEN 2 THEN 'de' ELSE 'sv' END AS lang,
             'https://h' || (doc_id % 2) || '.example.org/'
               || CASE doc_id % 4 WHEN 0 THEN 'en'
                       WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
                       ELSE 'sv' END
               || '/page' || (doc_id // 4) AS url
      FROM documents)
    SELECT a.host, a.template,
           a.lang AS lang_a, a.url AS url_a,
           b.lang AS lang_b, b.url AS url_b
    FROM tagged a JOIN tagged b
      ON a.host = b.host AND a.template = b.template
     AND a.lang < b.lang
    ORDER BY a.host, a.template, lang_a, lang_b""")
def _q_crawl_strand_pairs(spark, sf_dir):
    """STRAND parallel-page candidates (crawl.strand_url_pairs):
    planted multilingual site — lang cycles en/fr/de/sv by doc_id%4,
    host alternates by doc_id%2, template groups of 4 share a page
    id — so each complete group yields the (de,en) pair on host 0
    and the (fr,sv) pair on host 1; the oracle builds the same
    tagged table closed-form and replays the join."""
    did = F.col("doc_id")
    lang = F.array(F.lit("en"), F.lit("fr"), F.lit("de"),
                   F.lit("sv"))[(did % 4).cast("int")]
    url = F.concat(
        F.lit("https://h"), (did % 2).cast("string"),
        F.lit(".example.org/"), lang, F.lit("/page"),
        (did / 4).cast("long").cast("string"))
    pages = (_read(spark, sf_dir, "documents")
             .select(url.alias("url")))
    return (strand_url_pairs(pages)
            .orderBy("host", "template", "lang_a", "lang_b"))
