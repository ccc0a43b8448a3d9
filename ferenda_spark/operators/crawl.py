"""Crawl-graph operators: redirects, robots rules, anchor text.

The reference's downloader follows redirects one HTTP hop at a time
and respects robots.txt via the `requests` stack (documentrepository.py
download paths, util.py); at crawl scale these become *set-at-a-time*
graph programs over the link/redirect tables:

* :func:`resolve_redirects` — collapse redirect chains to their final
  target with **pointer doubling** (Wyllie's list-ranking trick, the
  standard PRAM technique): each round composes the pointer map with
  itself, so a chain of length L resolves in O(log L) self-joins
  instead of L sequential ones.  At 10^10 redirect edges that is ~34
  shuffles worst-case and 3-4 in practice (real chains are short).
  Cycles never terminate by definition; they are reported with
  ``resolved = false`` after the doubling budget instead of looping.
* :func:`robots_allowed` — the robots.txt *longest-match* rule
  (RFC 9309 §2.2.2: most specific path prefix wins, Allow wins
  length ties): a broadcast join of the URL table against the
  per-host rule dimension, a prefix filter, and one window per URL.
  No-match URLs are allowed (RFC 9309 default).
* :func:`anchor_links` / :func:`anchor_text_profile` — inbound
  anchor-text aggregation, the classic web-KG relevance signal
  (anchor text describes the *target*): an Arrow-batched DOM walk
  emits (src, position, href, anchor) and a groupBy + window picks
  each target's majority anchor.  The DOM walk reuses the same
  parser as the main extract stage (htmlelements.py) so anchor rows
  agree with the link rows byte-for-byte.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from decimal import Decimal, InvalidOperation

from pyspark.sql import DataFrame, Window, functions as F

from ..htmlelements import decode_html, node_text, parse_html, prune
from ..rowmap import map_rows


# ------------------------------------------------------------ redirects

def resolve_redirects(redirects: DataFrame, max_doubling: int = 6,
                      src: str = "src_url",
                      dst: str = "dst_url") -> DataFrame:
    """Resolve each redirect source to its final target.

    ``redirects``: one row per redirect edge (src -> dst); a source
    must have exactly one outgoing edge (HTTP semantics — callers
    dedup on src first if their log has retries).

    Returns (src_url, final_url, hops, resolved).  ``hops`` is the
    chain length actually walked; ``resolved`` is false for rows still
    pointing at another redirect source after ``max_doubling`` rounds
    (a cycle, or a chain longer than 2**max_doubling).

    Each round is one self-equi-join on the destination key; the
    pointer table is localCheckpointed per round because it feeds both
    sides of the next join (same lineage-cut discipline as the
    pagerank/HITS loops in graphs.py).
    """
    ptr = (redirects
           .select(F.col(src).alias("src_url"),
                   F.col(dst).alias("final_url"),
                   F.lit(1).cast("long").alias("hops"))
           .localCheckpoint(eager=True))
    for _ in range(max_doubling):
        hop = ptr.select(F.col("src_url").alias("j_src"),
                         F.col("final_url").alias("j_dst"),
                         F.col("hops").alias("j_hops"))
        ptr = (ptr.join(hop, ptr["final_url"] == hop["j_src"], "left")
               .select("src_url",
                       F.coalesce("j_dst", "final_url").alias("final_url"),
                       (F.col("hops")
                        + F.coalesce("j_hops", F.lit(0))).alias("hops"))
               .localCheckpoint(eager=True))
        # Converged when no final_url is itself a redirect source.
        still = ptr.join(
            ptr.select(F.col("src_url").alias("open_src")).distinct(),
            ptr["final_url"] == F.col("open_src"), "left_semi")
        if still.isEmpty():
            break
    srcs = ptr.select(F.col("src_url").alias("open_src")).distinct()
    return (ptr.join(srcs, ptr["final_url"] == F.col("open_src"), "left")
            .select("src_url", "final_url", "hops",
                    F.col("open_src").isNull().alias("resolved")))


# ------------------------------------------------------------ robots

def robots_allowed(urls: DataFrame, rules: DataFrame,
                   url_col: str = "url") -> DataFrame:
    """Per-URL fetch permission under RFC 9309 longest-match.

    ``rules``: (host, path_prefix, allow) — the parsed per-host rule
    dimension (small: one crawl config, broadcast).  A URL matches a
    rule when its path starts with ``path_prefix`` and its host
    equals ``host``; among matches the longest prefix wins and
    ``allow`` wins exact-length ties; no match means allowed.

    Returns (url, allowed, rule_prefix) with ``rule_prefix`` empty
    for the no-match default.  Shape: broadcast join + one window
    keyed on the URL itself — no coarse key, no skew.
    """
    u = urls.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1).alias("host"),
        F.regexp_extract(url_col, r"^[a-z]+://[^/]+(/.*)$", 1).alias("path"))
    matched = (u.join(F.broadcast(rules), "host")
               .where(F.expr("startswith(path, path_prefix)")))
    w = Window.partitionBy("url").orderBy(
        F.length("path_prefix").desc(),
        F.col("allow").cast("int").desc())
    best = (matched
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("url", F.col("allow").alias("rule_allow"),
                    F.col("path_prefix").alias("rule_prefix")))
    return (u.select("url").join(best, "url", "left")
            .select("url",
                    F.coalesce("rule_allow", F.lit(True)).alias("allowed"),
                    F.coalesce("rule_prefix", F.lit("")).alias("rule_prefix")))


# ------------------------------------------------------------ anchors

ANCHOR_SCHEMA = "src_url string, position int, href string, anchor string"


def _anchor_row(url, raw):
    tree = parse_html(decode_html(raw))
    pruned = prune(tree.find("body") or tree)
    rows = []
    seen: set[str] = set()

    def walk(n):
        if isinstance(n, str):
            return
        if n.tag == "a" and "href" in n.attrs:
            href = n.attrs["href"]
            if href not in seen:
                seen.add(href)
                rows.append((url, len(rows), href, node_text(n)))
        for c in n.children:
            walk(c)

    if pruned is not None:
        walk(pruned)
    return rows


def anchor_links(pages: DataFrame) -> DataFrame:
    """(url, html) -> (src_url, position, href, anchor): every unique
    href in document order with its normalized anchor text.  Same
    pruning as the main extract stage, so href order and dedup agree
    with extract_document's ``links`` column exactly."""
    return map_rows(pages.select("url", "html"), _anchor_row, ANCHOR_SCHEMA)


def anchor_text_profile(links: DataFrame,
                        target_col: str = "target") -> DataFrame:
    """Inbound anchor-text profile per target: total inlinks, distinct
    anchor texts, and the majority anchor (count desc, text asc — a
    pure function of the input).  Two shuffles: one groupBy on
    (target, anchor), one window on target."""
    counts = (links
              .groupBy(F.col(target_col).alias("target"), "anchor")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("target").orderBy(
        F.col("n").desc(), F.col("anchor").asc())
    return (counts
            .withColumn("rk", F.row_number().over(w))
            .groupBy("target")
            .agg(F.sum("n").cast("long").alias("n_inlinks"),
                 F.count(F.lit(1)).cast("long").alias("n_anchor_texts"),
                 F.max(F.when(F.col("rk") == 1, F.col("anchor")))
                 .alias("top_anchor")))


# ------------------------------------------------------------ sitemaps

SITEMAP_SCHEMA = ("loc string, lastmod string, priority_tenths int")


def _priority_tenths(txt):
    """A sitemaps.org ``<priority>`` (0.0 to 1.0) as integer tenths,
    truncated ("0.75" -> 7) so no float is ever compared; None for a
    value that is not a number in that range."""
    try:
        d = Decimal(txt)
    except InvalidOperation:
        return None
    return int(d * 10) if d.is_finite() and 0 <= d <= 1 else None


def _sitemap_row(raw):
    try:
        root = ET.fromstring(raw.decode("utf-8"))
    except (UnicodeDecodeError, ET.ParseError):
        return          # malformed sitemap: no entries, job goes on
    for url_el in root:
        if not url_el.tag.endswith("url"):
            continue
        loc = lastmod = None
        prio = None
        for child in url_el:
            tag = child.tag.rsplit("}", 1)[-1]
            if tag == "loc":
                loc = (child.text or "").strip()
            elif tag == "lastmod":
                lastmod = (child.text or "").strip()
            elif tag == "priority":
                prio = _priority_tenths((child.text or "").strip())
        if loc:
            yield (loc, lastmod, prio)


def sitemap_entries(sitemaps: DataFrame,
                    xml_col: str = "xml") -> DataFrame:
    """Parse sitemap-protocol XML documents (sitemaps.org schema,
    namespace-agnostic) into (loc, lastmod, priority_tenths) rows —
    the crawl-seeding stage.  Real ElementTree parse, Arrow-batched;
    priority is kept as integer tenths so no float ever crosses the
    engine boundary, NULL when it is not a number in [0, 1] (the
    entry itself is kept).  One sitemap file = one row in, its URL entries
    out (UDTF shape, like the WARC reader); a file that is not
    well-formed UTF-8 XML yields no rows rather than failing the job."""
    return map_rows(sitemaps.select(xml_col), _sitemap_row, SITEMAP_SCHEMA)


# ------------------------------------------------------------ frontier

def frontier_schedule(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Politeness-aware crawl-frontier ordering: round-robin across
    hosts.  Each URL gets ``slot = (rank_in_host - 1) * n_hosts +
    host_idx`` — sorting by ``slot`` interleaves hosts so two fetches
    of the same host are always ``n_hosts`` positions apart (the
    standard Mercator frontier shape, Heydon & Najork 1999), without
    ever materializing a global row_number over the corpus.

    The per-host rank window is keyed on the host; the host-index
    window runs over the DISTINCT host dimension only (crawl configs
    have 10^6-10^7 hosts — dimension-sized, and the single-partition
    window touches just that dimension, never the URL table).
    Returns (url, host, rank_in_host, slot)."""
    u = urls.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1).alias("host"))
    hosts = (u.select("host").distinct()
             .withColumn("host_idx",
                         F.row_number().over(
                             Window.orderBy("host")).cast("long") - 1))
    n_hosts = hosts.agg(F.count(F.lit(1)).alias("n_hosts"))
    ranked = u.withColumn(
        "rank_in_host",
        F.row_number().over(
            Window.partitionBy("host").orderBy("url")).cast("long"))
    return (ranked
            .join(F.broadcast(hosts), "host")
            .crossJoin(F.broadcast(n_hosts))
            .withColumn("slot", (F.col("rank_in_host") - 1)
                        * F.col("n_hosts") + F.col("host_idx"))
            .select("url", "host", "rank_in_host", "slot"))


# --------------------------------------------------------- crawl diff

def sitemap_diff(old: DataFrame, new: DataFrame,
                 key_col: str = "loc",
                 cmp_col: str = "lastmod") -> DataFrame:
    """Recrawl planning: diff two crawl snapshots' URL inventories.
    Full outer join on the URL; status is added / removed / changed
    (present in both, compare column differs, NULL-safe) / unchanged.
    One equi-join keyed on the URL itself — no coarse key.  Returns
    (loc, status, old_<cmp>, new_<cmp>)."""
    o = old.select(F.col(key_col).alias("loc"),
                   F.col(cmp_col).alias("old_cmp"),
                   F.lit(1).alias("in_old"))
    n = new.select(F.col(key_col).alias("loc"),
                   F.col(cmp_col).alias("new_cmp"),
                   F.lit(1).alias("in_new"))
    return (o.join(n, "loc", "full_outer")
            .select(
                "loc",
                F.when(F.col("in_old").isNull(), "added")
                .when(F.col("in_new").isNull(), "removed")
                .when(~F.col("old_cmp").eqNullSafe(F.col("new_cmp")),
                      "changed")
                .otherwise("unchanged").alias("status"),
                F.col("old_cmp").alias("old_" + cmp_col),
                F.col("new_cmp").alias("new_" + cmp_col)))


# ------------------------------------------------- recrawl scheduling

def recrawl_schedule(observations: DataFrame,
                     min_interval: int = 3600,
                     max_interval: int = 30 * 86400) -> DataFrame:
    """Per-URL change-rate estimation and next-fetch scheduling —
    the incremental-crawl freshness model of Cho & Garcia-Molina
    (TOIT 2003), which is what replaces the reference's
    conditional-GET loop (``documentrepository.py`` download_if_needed
    / If-Modified-Since) when the frontier is 10^10 URLs and refetch
    budget, not politeness, is the binding constraint.

    ``observations``: (url, fetch_ts, content_hash) — one row per
    past fetch, ``fetch_ts`` integral epoch seconds.  For each URL
    with ≥ 2 fetches we compute over its n = visits−1 refetch
    intervals with X observed changes (hash differs from the
    previous fetch):

    * ``lambda_hat = -ln((n − X + 0.5) / (n + 0.5)) / mean_interval``
      — the bias-corrected Poisson-rate estimator (ibid. §4; the
      +0.5 terms keep X = n finite), in changes/second;
    * ``next_fetch = last_ts + clamp(1/lambda_hat, min_interval,
      max_interval)`` (integer seconds, floor division).

    Single-visit URLs get ``lambda_hat`` NULL and the max interval
    (nothing is known; recrawl lazily).

    Scale shape: one window over (url) ordered by fetch_ts to flag
    changes (per-URL history is dozens of rows — the partition key
    is the finest possible), then one groupBy(url).  All arithmetic
    on longs until the two final IEEE divisions + one ln, which a
    SQL oracle replays exactly.
    """
    from pyspark.sql import Window
    w = Window.partitionBy("url").orderBy("fetch_ts")
    obs = observations.select(
        "url", F.col("fetch_ts").cast("long").alias("fetch_ts"),
        "content_hash")
    flagged = obs.withColumn(
        "prev_hash", F.lag("content_hash").over(w))
    per_url = (flagged.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_visits"),
        F.sum(F.when(F.col("prev_hash").isNotNull()
                     & (F.col("content_hash") != F.col("prev_hash")),
                     1).otherwise(0)).cast("long").alias("n_changes"),
        F.min("fetch_ts").alias("first_ts"),
        F.max("fetch_ts").alias("last_ts")))
    n = (F.col("n_visits") - 1).cast("double")
    x = F.col("n_changes").cast("double")
    mean_iv = ((F.col("last_ts") - F.col("first_ts")).cast("double")
               / n)
    lam = F.when(
        (F.col("n_visits") > 1) & (F.col("last_ts") > F.col("first_ts")),
        -F.log((n - x + 0.5) / (n + 0.5)) / mean_iv)
    wait = F.when(lam.isNull() | (lam <= 0.0), F.lit(int(max_interval)))\
        .otherwise(F.least(
            F.lit(int(max_interval)).cast("long"),
            F.greatest(F.lit(int(min_interval)).cast("long"),
                       F.floor(F.lit(1.0) / lam).cast("long"))))
    return per_url.select(
        "url", "n_visits", "n_changes",
        lam.alias("lambda_hat"),
        (F.col("last_ts") + wait).cast("long").alias("next_fetch"))


# ------------------------------------------------- URL template mining

def url_templates(urls: DataFrame, url_col: str = "url",
                  hash_col: str = None) -> DataFrame:
    """Site-structure template mining + crawler-trap signals.

    Generalizes each URL's path by replacing variable segments —
    runs of digits become ``{n}``, hex tokens of ≥ 8 chars become
    ``{h}`` — so ``/item/123/rev/4`` and ``/item/99/rev/7`` share
    the template ``host/item/{n}/rev/{n}``.  Aggregating per
    template exposes the two things a frontier at 10^10 URLs needs:

    * the site's *real* page-type inventory (templates, not URLs,
      are the unit a crawl budget is allocated over), and
    * **trap candidates** — templates with huge URL counts but few
      distinct contents (calendar pages, session ids, infinite
      paginations), flagged by ``urls_per_content``.

    Pure expressions (parse + two regexp_replace passes) feeding one
    groupBy(template): (template, n_urls, max_depth[,
    n_distinct_content, urls_per_content]).  ``hash_col`` (optional)
    enables the content-diversity columns.
    """
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    raw = F.parse_url(F.col(url_col), F.lit("PATH"))
    # java's parse_url yields "" (not NULL) for a bare root URL
    path = F.when(raw.isNull() | (raw == ""), F.lit("/")).otherwise(raw)
    norm = F.regexp_replace(
        F.regexp_replace(path, r"[0-9a-f]{8,}", "{h}"),
        r"[0-9]+", "{n}")
    depth = F.when(raw.isNull() | (raw == ""), F.lit(0).cast("long"))\
        .otherwise((F.size(F.split(raw, "/")) - 1).cast("long"))
    base = urls.select(
        F.concat_ws("", host, norm).alias("template"),
        depth.alias("depth"),
        *([F.col(hash_col).alias("h")] if hash_col else []))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.max("depth").alias("max_depth")]
    if hash_col:
        aggs.append(F.countDistinct("h").cast("long")
                    .alias("n_distinct_content"))
    out = base.groupBy("template").agg(*aggs)
    if hash_col:
        out = out.withColumn(
            "urls_per_content",
            F.col("n_urls").cast("double")
            / F.col("n_distinct_content"))
    return out


# ------------------------------------------------- mirror detection

def mirror_hosts(pages: DataFrame, host_col: str = "host",
                 hash_col: str = "content_hash",
                 min_shared: int = 2,
                 max_hosts_per_hash: int = 16) -> DataFrame:
    """Mirror/alias host detection: host pairs whose *content* —
    distinct page hashes — overlaps, the host-level complement of
    document dedup (a 100 TB crawl refetches every mirror of a big
    site unless the frontier knows they serve the same bytes).

    1. distinct (host, hash) pairs;
    2. drop hashes served by more than ``max_hosts_per_hash`` hosts —
       those are boilerplate/soft-404 templates, and the guard is
       what bounds the self-join fan-out per hash at web scale
       (mirror sets are small; template hashes are everywhere);
    3. self-join on hash (host_a < host_b), ONE groupBy per pair;
    4. per-host distinct-content sizes (over the same filtered set)
       join back — a host-dimension table the optimizer broadcasts;
    5. ``overlap`` = n_shared / min(n_a, n_b) — the containment
       coefficient, exact IEEE division of longs.

    Returns (host_a, host_b, n_shared, n_a, n_b, overlap) for pairs
    with ``n_shared >= min_shared``.
    """
    hh = (pages.select(F.col(host_col).alias("host"),
                       F.col(hash_col).alias("h"))
          .distinct())
    keep = (hh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("nh"))
            .where(F.col("nh") <= int(max_hosts_per_hash))
            .select("h"))
    hh = hh.join(keep, "h").localCheckpoint(eager=True)
    sizes = hh.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    a = hh.select("h", F.col("host").alias("host_a"))
    b = hh.select("h", F.col("host").alias("host_b"))
    shared = (a.join(b, "h")
              .where(F.col("host_a") < F.col("host_b"))
              .groupBy("host_a", "host_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
              .where(F.col("n_shared") >= int(min_shared)))
    out = (shared
           .join(sizes.select(F.col("host").alias("host_a"),
                              F.col("n").alias("n_a")), "host_a")
           .join(sizes.select(F.col("host").alias("host_b"),
                              F.col("n").alias("n_b")), "host_b"))
    return out.select(
        "host_a", "host_b", "n_shared", "n_a", "n_b",
        (F.col("n_shared").cast("double")
         / F.least("n_a", "n_b")).alias("overlap"))


# ------------------------------------------------- politeness slots

def politeness_schedule(frontier: DataFrame, delays: DataFrame = None,
                        default_delay: int = 10) -> DataFrame:
    """Per-host fetch-slot assignment under crawl-delay politeness:
    the k-th URL fetched from a host cannot start before
    ``(k-1) * crawl_delay`` seconds into the crawl window.

    ``frontier``: (url, host, priority) — higher priority first;
    ``delays``: optional (host, crawl_delay) from robots.txt (hosts
    absent get ``default_delay``).  Returns (url, host, rank,
    fetch_offset_s) with rank = position in the host's queue
    (priority DESC, url ASC — total order, restart-stable) and
    ``fetch_offset_s = (rank - 1) * crawl_delay`` (long seconds).

    Scale shape: delays are a robots-derived host dimension and
    broadcast; the ONE window partitions by host — per-host queue
    order is the semantics (fetches from one host are serial by
    definition), and hosts are independent, so the plan is
    embarrassingly parallel across the 10^7-host dimension.  A
    mega-host's queue landing on one task is inherent to the
    problem, not the plan; cap frontier-per-host upstream (see
    ``per-domain quota``) if a single host's queue outgrows a task.
    """
    from pyspark.sql import Window
    f = frontier.select("url", "host",
                        F.col("priority").cast("long").alias("priority"))
    if delays is not None:
        d = delays.select("host", F.col("crawl_delay").cast("long")
                          .alias("crawl_delay"))
        f = (f.join(F.broadcast(d), "host", "left")
             .withColumn("crawl_delay",
                         F.coalesce("crawl_delay",
                                    F.lit(int(default_delay)))))
    else:
        f = f.withColumn("crawl_delay", F.lit(int(default_delay)))
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(),
                                           F.col("url"))
    return (f.select("url", "host", "crawl_delay",
                     F.row_number().over(w).cast("long").alias("rank"))
            .select("url", "host", "rank",
                    ((F.col("rank") - 1) * F.col("crawl_delay"))
                    .cast("long").alias("fetch_offset_s")))


# --------------------------------------------- pagination stitching

def stitch_paginated(pages: DataFrame, url_col: str = "url",
                     text_col: str = "text",
                     sep: str = "\n") -> DataFrame:
    """Reassemble multi-page articles split across ``?page=N`` URLs --
    the inverse of the CMS pagination that fragments long documents
    into crawl-sized pieces (training on fragments loses cross-page
    context; deduping them separately misses the whole-article dup).

    ``base_url`` strips a trailing ``[?&]page=N`` parameter;
    ``page_no`` defaults to 1 when absent (the bare first page).  One
    groupBy per base URL: pages are sorted by (page_no, text) -- a
    total order, so the concatenation is deterministic even under
    duplicate page numbers -- and joined with ``sep``.  ``has_gaps``
    flags articles whose page numbers are not exactly 1..n_pages
    (a missed fetch; the recrawl scheduler re-queues those).

    Scale shape: ONE shuffle on base_url (articles are small -- tens
    of pages -- so the per-group sort is a few comparisons, never a
    spill), everything else map-side expressions.
    """
    u = F.col(url_col)
    pat = r"[?&]page=(\d+)$"
    base = F.regexp_replace(u, r"[?&]page=\d+$", "")
    page = (F.when(u.rlike(pat),
                   F.regexp_extract(u, pat, 1).cast("long"))
            .otherwise(F.lit(1).cast("long")))
    rows = pages.select(base.alias("base_url"), page.alias("page_no"),
                        F.col(text_col).alias("_t"))
    agg = rows.groupBy("base_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.min("page_no").alias("min_page"),
        F.max("page_no").alias("max_page"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("page_no", "_t"))),
                lambda s: s["_t"]),
            sep).alias("full_text"))
    return agg.select(
        "base_url", "n_pages", "min_page", "max_page", "full_text",
        ((F.col("min_page") != 1)
         | (F.col("max_page") - F.col("min_page") + 1
            != F.col("n_pages"))).alias("has_gaps"))


# ------------------------------------------------- soft-404 probing

SOFT404_TITLE_PAT = r"(?i)(page not found|error 404|no longer available)"


def soft404(pages: DataFrame, probes: DataFrame,
            url_col: str = "url", host_col: str = "host",
            hash_col: str = "content_hash", title_col: str = "title",
            title_pat: str = SOFT404_TITLE_PAT) -> DataFrame:
    """Soft-404 detection: HTTP-200 pages that are really error pages.
    Two independent signals, both standard crawl hygiene:

    * **error-template match** -- ``probes`` carries one
      ``(host, probe_hash)`` row per host: the content hash returned
      for a deliberately nonexistent URL on that host.  Any normal
      page serving the same hash is the error template.  Probes are
      a host dimension -> broadcast left join, no shuffle of pages.
    * **title match** -- :data:`SOFT404_TITLE_PAT` against the page
      title (pure rlike scan).

    Returns flagged pages only: (url, host, reason) with reason in
    {'error_template', 'title', 'both'}.  At 100 TB the output is a
    tiny fraction of the input and feeds the URL-quality dimension
    the frontier consults before re-enqueueing.
    """
    pr = probes.select(F.col(host_col), F.col("probe_hash"))
    j = pages.join(F.broadcast(pr), host_col, "left")
    hm = F.coalesce(F.col(hash_col) == F.col("probe_hash"),
                    F.lit(False))
    tm = F.col(title_col).rlike(title_pat)
    reason = (F.when(hm & tm, "both")
              .when(hm, "error_template")
              .otherwise("title"))
    return (j.where(hm | tm)
            .select(F.col(url_col), F.col(host_col),
                    reason.alias("reason")))


# --------------------------------------------- crawl budget (Hamilton)

def allocate_crawl_budget(hosts: DataFrame, budget: int,
                          host_col: str = "host",
                          weight_col: str = "weight") -> DataFrame:
    """Apportion an integer fetch budget across hosts proportionally
    to a weight (URL count, quality-adjusted demand) with the
    Hamilton / largest-remainder method: every host gets
    ``floor(budget * w / W)``, and the leftover slots go to the
    largest fractional remainders (ties broken by host ASC -- total
    order, restart-stable).  Hamilton is exact (allocations sum to
    the budget) and monotone enough for crawl planning, and unlike
    iterative divisor methods it is ONE pass of distributed
    arithmetic.

    Exactness: ``quota = CAST(budget * w AS DOUBLE) / W`` is one IEEE
    division of longs (identical in any engine), so the fractional
    ranking is reproducible bit-for-bit.

    Scale shape: one 1-row total (broadcast), one window over the
    HOST DIMENSION (10^7 rows, not pages) for the remainder ranks.
    Returns (host, weight, quota, base, extra, allocation).
    """
    from pyspark.sql import Window
    b = F.lit(int(budget)).cast("long")
    h = hosts.select(F.col(host_col).alias("host"),
                     F.col(weight_col).cast("long").alias("weight"))
    tot = h.agg(F.sum("weight").cast("long").alias("w_total"))
    q = (h.crossJoin(F.broadcast(tot))  # 1-row total
         .select("host", "weight",
                 ((b * F.col("weight")).cast("double")
                  / F.col("w_total")).alias("quota")))
    q = q.select("host", "weight", "quota",
                 F.floor("quota").cast("long").alias("base"))
    used = q.agg(F.sum("base").cast("long").alias("b_used"))
    w_frac = Window.orderBy((F.col("quota") - F.col("base")).desc(),
                            "host")
    ranked = (q.crossJoin(F.broadcast(used))
              .withColumn("r", F.row_number().over(w_frac).cast("long")))
    return (ranked.select(
        "host", "weight", "quota", "base",
        F.when(F.col("r") <= b - F.col("b_used"), F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("extra"))
        .withColumn("allocation", F.col("base") + F.col("extra")))


# --------------------------------------------- rel=canonical election

CANONICAL_LINK_PAT = (r'<link[^>]*rel="canonical"[^>]*'
                      r'href="([^"]+)"')


def rel_canonical(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """rel=canonical cluster election: CMSes publish the same content
    under tracking/session/pagination variants and declare the master
    copy in a ``<link rel="canonical">`` tag; honoring it collapses
    the variants WITHOUT content comparison (the cheapest dedup
    signal the crawl has).

    One ``regexp_extract`` scan pulls the declared target; variants
    pointing at themselves or declaring nothing are not variants.
    Per declared target: ``n_variants`` and ``target_in_corpus``
    (whether the master itself was fetched -- if not, the frontier
    should enqueue it).

    Scale shape: map-side extraction, ONE groupBy on the target URL,
    one left-semi-style join against the fetched-URL set (pages keyed
    by url on both sides).  Returns
    (canonical_url, n_variants, target_in_corpus).
    """
    u = F.col(url_col)
    c = F.regexp_extract(F.col(html_col), CANONICAL_LINK_PAT, 1)
    declared = (pages.select(u.alias("url"), c.alias("canonical_url"))
                .where((F.col("canonical_url") != "")
                       & (F.col("canonical_url") != F.col("url"))))
    agg = declared.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"))
    fetched = pages.select(u.alias("canonical_url")).distinct() \
        .withColumn("_hit", F.lit(True))
    return (agg.join(fetched, "canonical_url", "left")
            .select("canonical_url", "n_variants",
                    F.coalesce("_hit", F.lit(False))
                    .alias("target_in_corpus")))


def param_significance(urls: DataFrame, url_col: str = "url",
                       hash_col: str = "content_hash") -> DataFrame:
    """URL query-parameter significance mining — the DUST rule
    learner ("Do Not Crawl in the DUST: different URLs with similar
    text", Bar-Yossef et al., WWW 2007; IRLbot's session-id
    stripping): decide, per (host, parameter), whether the parameter
    ever CHANGES content, so the frontier can canonicalize
    insignificant ones away before fetching.

    Method: explode each URL's query into (name, value) rows; the
    evidence group for parameter p is (host, path, residual) where
    residual = the OTHER parameters, sorted — URLs in one group
    differ only in p's value.  A group with >= 2 distinct values of p
    is an experiment; it "varies" if those URLs carry > 1 distinct
    content hash.  significance_ppm = varying * 10^6 div experiments
    per (host, name) — integer parts-per-million, the repo-wide
    no-float-output convention; 0 => the parameter is droppable (a
    session id), 1000000 => it selects content (a page number).

    All higher-order column expressions (split / filter / sort /
    join) + two groupBys keyed on bounded composites — no UDF, no
    self-join; scales as one pass over the URL table.

    Returns (host, param, n_groups, n_varying, significance_ppm,
    droppable) for parameters observed in >= 1 experiment."""
    q = F.parse_url(F.col(url_col), F.lit("QUERY"))
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    params = F.split(q, "&")
    rows = (urls.where(q.isNotNull() & (q != ""))
            .select(host.alias("host"), path.alias("path"),
                    params.alias("_ps"), F.col(hash_col).alias("_h"))
            .select("host", "path", "_h", "_ps",
                    F.explode("_ps").alias("_kv"))
            .select("host", "path", "_h",
                    F.split("_kv", "=").getItem(0).alias("param"),
                    F.split("_kv", "=").getItem(1).alias("_val"),
                    F.array_join(F.array_sort(F.filter(
                        "_ps",
                        lambda x: F.split(x, "=").getItem(0)
                        != F.split(F.col("_kv"), "=").getItem(0))),
                        "&").alias("_residual")))
    groups = (rows.groupBy("host", "path", "param", "_residual")
              .agg(F.countDistinct("_val").alias("_nv"),
                   F.countDistinct("_h").alias("_nh"))
              .where(F.col("_nv") >= 2))
    return (groups.groupBy("host", "param")
            .agg(F.count(F.lit(1)).cast("long").alias("n_groups"),
                 F.sum(F.when(F.col("_nh") > 1, 1).otherwise(0))
                 .cast("long").alias("n_varying"))
            .select("host", "param", "n_groups", "n_varying",
                    F.expr("n_varying * 1000000L div n_groups")
                    .alias("significance_ppm"),
                    (F.col("n_varying") == 0).alias("droppable")))


def blocklist_filter(urls: DataFrame, blocklist: DataFrame,
                     url_col: str = "url") -> DataFrame:
    """Domain-suffix blocklist matching — the frontier's URL filter
    (reference: per-repo allowed-domain checks; at web scale the
    blocklist is registrable-suffix-based, so ``spam.test`` must
    block ``a.b.spam.test``).  Each host explodes into its suffix
    chain (a.b.spam.test -> [a.b.spam.test, b.spam.test, spam.test,
    test]) with pure array expressions, then joins the BROADCAST
    blocklist (dimension-sized: even industrial lists are << 10^7
    rows) — no UDF, no regex scan per rule.

    Returns the input annotated: (url, host, blocked,
    matched_suffix) — matched_suffix is the longest matching rule
    (most specific), NULL when clean."""
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    # two-step projection: deriving the suffix chain from an alias of
    # the same name in one select trips Spark's lateral-column-alias
    # resolution (INTERNAL_ERROR), so host is materialized first
    base = urls.select(F.col(url_col).alias("url"), host.alias("host"))
    parts = F.split(F.col("host"), r"\.")
    n = F.size(parts)
    sufs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."))
    ex = base.select("url", "host", F.explode(sufs).alias("_suffix"))
    bl = blocklist.select(F.col("domain").alias("_suffix")).distinct()
    hits = (ex.join(F.broadcast(bl), "_suffix")
            .groupBy("url")
            .agg(F.max(F.struct(F.length("_suffix").alias("_l"),
                                F.col("_suffix").alias("s")))
                 .alias("_m")))
    return (base
            .join(hits, "url", "left")
            .select("url", "host",
                    F.col("_m").isNotNull().alias("blocked"),
                    F.col("_m.s").alias("matched_suffix")))


# ------------------------------------------------- robots meta / rel

ROBOTS_META_SCHEMA = "url string, noindex boolean, nofollow boolean"


def _robots_directives(tree):
    """(noindex, nofollow) from every ``<meta name="robots">``."""
    noindex = nofollow = False

    def scan(n):
        nonlocal noindex, nofollow
        if isinstance(n, str):
            return
        if n.tag == "meta" and (n.attrs.get("name") or "").lower() \
                == "robots":
            ds = {d.strip().lower() for d in
                  (n.attrs.get("content") or "").split(",")}
            if "noindex" in ds or "none" in ds:
                noindex = True
            if "nofollow" in ds or "none" in ds:
                nofollow = True
        for c in n.children:
            scan(c)

    scan(tree)
    return noindex, nofollow


def _robots_meta_row(url, raw):
    yield (url, *_robots_directives(parse_html(decode_html(raw))))


def robots_meta(pages: DataFrame) -> DataFrame:
    """Page-level robots directives from ``<meta name="robots">`` —
    the in-page half of crawl permissioning (robots.txt is
    :func:`robots_allowed`): one row per page with the noindex /
    nofollow verdict, ``none`` meaning both and multiple robots
    metas unioned (most restrictive wins, per Google's documented
    conflict rule).  Pages without the meta get (false, false) so
    the output is a total function of the input — the filter
    decision stays with the caller.

    One :func:`map_rows` DOM pass, no shuffle."""
    return map_rows(pages.select("url", "html"), _robots_meta_row,
                    ROBOTS_META_SCHEMA)


FOLLOW_EDGE_SCHEMA = ("src_url string, position int, href string, "
                      "follow boolean")


def _follow_edge_row(url, raw):
    tree = parse_html(decode_html(raw))
    meta_nofollow = _robots_directives(tree)[1]
    rows = []
    seen: set = set()

    def scan(n):
        if isinstance(n, str):
            return
        if n.tag == "a" and "href" in n.attrs:
            href = n.attrs["href"]
            if href not in seen:
                seen.add(href)
                rel = {t.lower() for t in (n.attrs.get("rel") or "").split()}
                rows.append((url, len(rows), href,
                             not (meta_nofollow or "nofollow" in rel)))
        for c in n.children:
            scan(c)

    scan(tree)
    return rows


def follow_edges(pages: DataFrame) -> DataFrame:
    """Crawl-grade link edges with the follow verdict: every unique
    href in document order (first occurrence wins, matching
    :func:`anchor_links`), marked unfollowable when the tag carries
    ``rel=nofollow`` (any token position — ``ugc nofollow`` counts)
    OR the page declares meta-robots nofollow.  This is the edge
    list a polite frontier expands and the one link-spam scoring
    should exclude — nofollow edges exist but must not carry
    endorsement.

    Unlike :func:`anchor_links` the walk is NOT pruned: a crawler
    discovers URLs wherever they sit (nav/footer included); use
    anchor_links when anchor TEXT quality matters instead.

    One :func:`map_rows` DOM pass, no shuffle."""
    return map_rows(pages.select("url", "html"), _follow_edge_row,
                    FOLLOW_EDGE_SCHEMA)


# ------------------------------------------------------- feeds

FEED_SCHEMA = ("feed_url string, idx int, title string, link string, "
               "entry_id string, published string")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _feed_row(furl, raw):
    try:
        root = ET.fromstring(raw.decode("utf-8"))
    except (UnicodeDecodeError, ET.ParseError):
        return          # malformed feed: no entries, job goes on
    kind = _local(root.tag)
    if kind == "rss":
        chan = next((c for c in root if _local(c.tag) == "channel"), None)
        entries = [] if chan is None else \
            [i for i in chan if _local(i.tag) == "item"]
    elif kind == "feed":
        entries = [e for e in root if _local(e.tag) == "entry"]
    else:
        entries = []
    for idx, e in enumerate(entries):
        title = link = gid = pub = upd = None
        for c in e:
            t = _local(c.tag)
            txt = (c.text or "").strip()
            if t == "title":
                title = txt
            elif t == "link":
                # RSS: element text; Atom: @href
                link = c.attrib.get("href") or txt or None
            elif t in ("guid", "id"):
                gid = txt
            elif t in ("pubDate", "published"):
                pub = txt
            elif t == "updated":
                upd = txt
        yield (furl, idx, title, link, gid, pub if pub is not None else upd)


def feed_entries(feeds: DataFrame) -> DataFrame:
    """RSS 2.0 / Atom feed parsing — the push half of crawl
    discovery (sitemaps are the pull half, :func:`sitemap_entries`):
    (feed_url, xml) -> one row per item/entry in feed order with
    title, link (RSS element text or Atom ``@href``), guid/id and
    the published date (Atom falls back to ``updated`` when
    ``published`` is absent).  Namespaced and bare element names
    both accepted; unknown root elements and feeds that are not
    well-formed UTF-8 XML yield no rows rather than failing the job.

    One :func:`map_rows` pass over the XML bytes, no shuffle; feeds
    parse independently so a 100 TB feed corpus maps straight
    through."""
    return map_rows(feeds.select("feed_url", "xml"), _feed_row, FEED_SCHEMA)


# ---------------------------------------------------- robots.txt

def _parse_robots_text(text: str, agent: str):
    """Pure RFC 9309-subset parser: returns (rules, delays, sitemaps)
    where rules = [(path_prefix, allow)] for the given agent, delays
    = crawl-delay seconds or None, sitemaps = [url].  Group
    selection: all groups naming the agent token exactly
    (case-insensitive) if any exist, else all ``*`` groups — RFC
    9309 §2.2.1 (rules for the matched agent combine; ``*`` applies
    only when nothing more specific matched).  Wildcard metachars in
    paths are kept verbatim — :func:`robots_allowed` treats prefixes
    literally (documented conservative subset)."""
    agent = agent.lower()
    groups = []          # [(set(agents), [(prefix, allow)], delay)]
    cur_agents, cur_rules, cur_delay = set(), [], None
    in_group_header = False
    sitemaps = []
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if field == "user-agent":
            if not in_group_header:
                if cur_agents:
                    groups.append((cur_agents, cur_rules, cur_delay))
                cur_agents, cur_rules, cur_delay = set(), [], None
                in_group_header = True
            cur_agents.add(value.lower())
            continue
        in_group_header = False
        if field in ("allow", "disallow"):
            if value:
                cur_rules.append((value, field == "allow"))
            continue
        if field == "crawl-delay":
            try:
                cur_delay = int(float(value) * 1000)
            except ValueError:
                pass
    if cur_agents:
        groups.append((cur_agents, cur_rules, cur_delay))
    exact = [g for g in groups if agent in g[0]]
    chosen = exact or [g for g in groups if "*" in g[0]]
    rules, delay = [], None
    for _, rs, d in chosen:
        rules.extend(rs)
        if d is not None:
            delay = d if delay is None else min(delay, d)
    return rules, delay, sitemaps


ROBOTS_RULES_SCHEMA = ("host string, path_prefix string, "
                       "allow boolean, rule_no int")
ROBOTS_META2_SCHEMA = ("host string, crawl_delay_ms long, "
                       "sitemap string, sitemap_no int")


def parse_robots(texts: DataFrame, agent: str = "*") -> DataFrame:
    """robots.txt -> the (host, path_prefix, allow) rules dimension
    :func:`robots_allowed` consumes, for one crawler identity:
    exact-token groups beat ``*`` groups, multiple matching groups
    combine (RFC 9309).  ``rule_no`` preserves file order.  Input:
    (host, robots_txt).  Arrow-batched, no shuffle — robots files
    parse independently per host."""
    def rules(host, txt):
        for i, (prefix, allow) in enumerate(
                _parse_robots_text(txt or "", agent)[0]):
            yield (host, prefix, allow, i)

    return map_rows(texts.select("host", "robots_txt"), rules,
                    ROBOTS_RULES_SCHEMA)


def robots_host_meta(texts: DataFrame, agent: str = "*") -> DataFrame:
    """Per-host crawl-delay (ms, smallest across matched groups) and
    declared sitemaps (file order) from robots.txt — the politeness
    and discovery side channels.  Hosts with neither emit one row of
    NULLs so the host stays visible to the scheduler join."""
    def host_meta(host, txt):
        _, delay, maps = _parse_robots_text(txt or "", agent)
        if not maps:
            return [(host, delay, None, None)]
        return [(host, delay, m, i) for i, m in enumerate(maps)]

    return map_rows(texts.select("host", "robots_txt"), host_meta,
                    ROBOTS_META2_SCHEMA)


# ---------------------------------------------------- SURT / CDX

def surt_key(col):
    """SURT (Sort-friendly URI Reordering Transform) of an
    already-canonical URL (:func:`..cleaning.canonical_url`):
    ``org,example)/path?query`` — the key format web-archive CDX
    indexes sort and range-scan by, putting every subdomain of a
    registrable domain into one contiguous key range.  Ports are
    dropped (canonical_url already removed default ports).  Pure
    column expressions, no UDF."""
    auth = F.lower(F.regexp_extract(col, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.regexp_replace(F.regexp_replace(auth, r":\d+$", ""),
                            r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    tail = F.regexp_extract(col, r"^[^:/?#]+://[^/?#]*(.*)$", 1)
    tail = F.when(tail == "", F.lit("/")).otherwise(tail)
    return F.when(auth == "", col).otherwise(
        F.concat(rev, F.lit(")"), tail))


def cdx_index(captures: DataFrame, url_col: str = "url",
              ts_col: str = "warc_ts",
              digest_col: str = "digest") -> DataFrame:
    """CDX-style capture index: canonicalize + SURT-key each capture,
    then one hash aggregate per key — capture count, distinct
    content versions (digest), first/last capture time.  This is the
    web-archive dedup/replay index (OpenWayback CDX, Common Crawl's
    cluster.idx) as a DataFrame op: one shuffle on the SURT key,
    map-side partial aggregation, and the key's domain-contiguous
    sort order is exactly what a range-partitioned writer wants."""
    from .cleaning import canonical_url
    keyed = captures.select(
        surt_key(canonical_url(F.col(url_col))).alias("surt"),
        F.col(ts_col).alias("ts"), F.col(digest_col).alias("digest"))
    return (keyed.groupBy("surt")
            .agg(F.count(F.lit(1)).alias("n_captures"),
                 F.countDistinct("digest").alias("n_versions"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts")))


def trap_detection(pages: DataFrame, url_col: str = "url",
                   depth_limit: int = 6,
                   param_limit: int = 3) -> DataFrame:
    """Crawler-trap scoring from URL structure alone (no fetch):
    the pre-crawl filter every frontier needs at 10^12 URLs, where
    calendar pages, session-forked paths, and self-similar directory
    loops can consume an unbounded share of the politeness budget
    (Heritrix's PathologicalPathDecideRule / TooManyPathSegments
    family, re-expressed as column algebra).

    Signals, all exact integers from pure expressions (no UDF, no
    shuffle — this is a map-only stage a scan pushes through):

    * ``path_depth``   — number of path segments;
    * ``dup_segments`` — repeated path segments (size - distinct
      size: /a/b/a/b scores 2), the self-similarity loop signal;
    * ``has_calendar`` — a /YYYY/M(/D)? run in the path (infinite
      calendar traps);
    * ``n_params``     — query parameters (session forks, faceted
      explosion).

    ``trap_score = 2*max(0, depth - depth_limit) + 3*dup_segments +
    2*has_calendar + max(0, n_params - param_limit)``; ``is_trap``
    flags score >= 4.  Weights mirror Heritrix's defaults in spirit:
    duplication is the strongest signal, raw depth the weakest.

    Returns (url, path_depth, dup_segments, has_calendar, n_params,
    trap_score, is_trap) — one row per input URL.
    """
    u = F.col(url_col)
    after_scheme = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    path_q = F.regexp_replace(after_scheme, r"^[^/]*", "")
    path = F.regexp_replace(path_q, r"[?#].*$", "")
    # fragment is stripped BEFORE the query scan: in '/a#b?c', the
    # '?' lives inside the fragment and there is no query (RFC 3986)
    nofrag = F.regexp_replace(path_q, r"#.*$", "")
    query = F.when(nofrag.contains("?"),
                   F.regexp_replace(nofrag, r"^[^?]*\?", "")
                   ).otherwise(F.lit(""))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    depth = F.size(segs)
    dups = (depth - F.size(F.array_distinct(segs))).cast("long")
    cal = F.when(path.rlike(r"/(19|20)\d{2}/\d{1,2}(/\d{1,2})?(/|$)"),
                 F.lit(1)).otherwise(F.lit(0)).cast("long")
    npar = F.when(F.length(query) == 0, F.lit(0)).otherwise(
        F.size(F.split(query, "&"))).cast("long")
    score = (2 * F.greatest(depth.cast("long") - depth_limit,
                            F.lit(0).cast("long"))
             + 3 * dups + 2 * cal
             + F.greatest(npar - param_limit, F.lit(0).cast("long")))
    return pages.select(
        u.alias("url"), depth.cast("long").alias("path_depth"),
        dups.alias("dup_segments"), cal.alias("has_calendar"),
        npar.alias("n_params"), score.alias("trap_score"),
        (score >= 4).cast("int").cast("long").alias("is_trap"))


def warc_revisit(captures: DataFrame, url_col: str = "url",
                 ts_col: str = "warc_ts",
                 digest_col: str = "digest") -> DataFrame:
    """WARC revisit-record planning: for every capture of a URL
    whose payload digest was ALREADY stored by an earlier capture of
    the same URL, emit a ``revisit`` record pointing at the original
    instead of storing the payload again (WARC/1.1 §6.7.2
    "identical-payload-digest" profile — how Common Crawl and
    Heritrix keep archives from storing an unchanged page once per
    crawl).  At 10^12 captures the payload savings IS the archive
    budget: only ``record_type = 'response'`` rows carry bytes.

    Shape: one window per (url, digest) ordered by capture time —
    the first capture of each (url, digest) pair is the stored
    response, every later one a revisit with ``refers_to_ts`` = the
    original's timestamp.  A single shuffle on the (url, digest)
    key; payload bytes never move (this runs on the capture
    manifest).

    Returns (url, warc_ts, digest, record_type, refers_to_ts) with
    refers_to_ts NULL on response rows.
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(url_col, digest_col)
         .orderBy(ts_col))
    first_ts = F.first(ts_col).over(
        Window.partitionBy(url_col, digest_col).orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (captures.select(
        F.col(url_col).alias("url"), F.col(ts_col).alias("warc_ts"),
        F.col(digest_col).alias("digest"),
        F.row_number().over(w).alias("_rn"),
        first_ts.alias("_first"))
        .select("url", "warc_ts", "digest",
                F.when(F.col("_rn") == 1, F.lit("response"))
                .otherwise(F.lit("revisit")).alias("record_type"),
                F.when(F.col("_rn") > 1, F.col("_first"))
                .alias("refers_to_ts")))


def opic_priorities(edges: DataFrame, rounds: int = 3,
                    total_cash: int = 10 ** 12,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """OPIC crawl prioritization (Abiteboul, Preda & Cobéna,
    "Adaptive On-Line Page Importance Computation", WWW 2003):
    every page holds CASH; each synchronous round a page distributes
    its cash equally over its outlinks and the amount it has ever
    distributed accumulates as HISTORY — importance ~ history,
    crawl priority ~ cash + history.  This is the frontier scheduler
    that needs no convergence test and no dangling-node matrix
    trickery, which is why production crawlers use it over
    PageRank-at-crawl-time.

    Integer-exact restatement: cash in indivisible units (the
    ``total_cash`` pool, default 10^12); per-edge share =
    ``cash div outdeg``, the indivisible remainder STAYS with the
    page, dangling pages keep everything — cash is conserved exactly
    after init (init = ``total div n`` per node; the sub-n dust that
    integer init drops is documented, not hidden).  Every quantity
    is a long, so any SQL engine replays the rounds bit-for-bit.

    The edge list is ``distinct()``-ed first: parallel edges (the
    same src -> dst link listed more than once) collapse into one
    outlink, so a page with two links to one target sends that target
    one share, and out-degree counts distinct targets.

    Scale shape per round: one filtered projection (share), one
    edge-keyed join + dst groupBy (the only shuffle, keyed on the
    node id), one node-keyed left join to fold receipts back into
    state, `localCheckpoint` cutting the lineage — the same loop
    discipline as pagerank/label-prop.  n is a 1-row broadcast.

    Returns (node, out_degree, cash, history, priority)."""
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct())
    outdeg = (e.groupBy(F.col("u").alias("node"))
              .agg(F.count(F.lit(1)).cast("long").alias("od")))
    nd = (nodes.join(outdeg, "node", "left")
          .select("node", F.coalesce("od", F.lit(0)).cast("long")
                  .alias("od")))
    n_row = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    state = (nd.crossJoin(F.broadcast(n_row))
             .select("node", "od",
                     F.expr("%dL div n" % total_cash).alias("cash"),
                     F.lit(0).cast("long").alias("history"))
             .localCheckpoint(eager=True))
    for _ in range(rounds):
        share = (state.where(F.col("od") > 0)
                 .select(F.col("node").alias("u"),
                         F.expr("cash div od").alias("share")))
        recv = (e.join(share, "u")
                .groupBy(F.col("v").alias("node"))
                .agg(F.sum("share").cast("long").alias("recv")))
        kept = F.when(F.col("od") > 0,
                      F.expr("cash % od")).otherwise(F.col("cash"))
        paid = F.when(F.col("od") > 0,
                      F.col("cash") - F.expr("cash % od")) \
            .otherwise(F.lit(0))
        state = (state.join(recv, "node", "left")
                 .select("node", "od",
                         (kept + F.coalesce("recv", F.lit(0)))
                         .cast("long").alias("cash"),
                         (F.col("history") + paid).cast("long")
                         .alias("history"))
                 .localCheckpoint(eager=True))
    return state.select(
        "node", F.col("od").alias("out_degree"), "cash", "history",
        (F.col("cash") + F.col("history")).cast("long")
        .alias("priority"))


LANG_MARKERS = ("en", "fr", "de", "es", "it", "sv", "pt", "nl",
                "ja", "zh", "ru", "ar")


def strand_url_pairs(pages: DataFrame, url_col: str = "url",
                     markers: tuple = LANG_MARKERS) -> DataFrame:
    """STRAND-style parallel-page candidate mining (Resnik & Smith,
    "The Web as a Parallel Corpus", CL 2003): translated page pairs
    advertise themselves STRUCTURALLY — the same URL with the
    language marker swapped (`/en/about` vs `/fr/about`).  Detect a
    path segment that is exactly a language code, normalize the URL
    by replacing it with a placeholder, and join pages on (host,
    normalized path) across DIFFERENT markers — the candidate
    generator that feeds alignment verification
    (:func:`ferenda_spark.operators.similarity` margin bitext /
    Gale-Church downstream).

    Pure column program: one regexp per URL (the marker alternation
    is a compile-time constant), one self-join keyed on the
    dimension-bounded (host, template) composite — pages without a
    language segment never enter the join.  Pair order is pinned
    lang_a < lang_b so each pair appears once.

    Returns (host, template, lang_a, url_a, lang_b, url_b)."""
    alt = "|".join(markers)
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    lang = F.regexp_extract(path, r"(?:^|/)(%s)(?=/|$)" % alt, 1)
    # replace only the segment lang was taken from (the first one)
    tmpl = F.regexp_replace(path, r"^((?:.*?/)?)(%s)(?=/|$)" % alt,
                            r"$1{lang}")
    tagged = (pages
              .select(F.col(url_col).alias("url"),
                      host.alias("host"), lang.alias("lang"),
                      tmpl.alias("template"))
              .where(F.col("lang") != ""))
    a = tagged.select("host", "template",
                      F.col("lang").alias("lang_a"),
                      F.col("url").alias("url_a"))
    b = tagged.select("host", "template",
                      F.col("lang").alias("lang_b"),
                      F.col("url").alias("url_b"))
    return (a.join(b, ["host", "template"])
            .where(F.col("lang_a") < F.col("lang_b"))
            .select("host", "template", "lang_a", "url_a",
                    "lang_b", "url_b"))
