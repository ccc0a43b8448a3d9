"""Web-corpus cleaning operators (training-pipeline mandate): the
C4/Gopher-style filters a Common-Crawl-scale text pipeline runs
between extraction and training-data assembly.

* :func:`hot_lines` / :func:`strip_hot_lines` — C4-style line-level
  boilerplate removal: a line occurring in many distinct documents
  (nav bars, cookie banners, license footers) is deleted from every
  document, order-preserving;
* :func:`redact_pii` — email / IPv4 / phone-number redaction as pure
  regexp_replace column expressions (JVM-side, one scan);
* :func:`repetition_stats` — Gopher repetition signals: the duplicate
  n-gram fraction per document for several n;
* :func:`contaminated` — benchmark decontamination: documents sharing
  any word n-gram (default 13, the standard eval-contamination width)
  with a probe set of benchmark texts.

Everything is built from the shared whitespace tokenizer
(operators.dedup.tokens) so counts line up with dedup/textstats and
with the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..htmlelements import decode_html, parse_html
from ..rowmap import map_rows
from ..textutil import normalize_space

from .dedup import tokens


def ngram_array(n: int, text_col: str = "text"):
    """NON-distinct word n-gram list (repetition analysis needs the
    multiplicity; dedup.shingle_array is the distinct variant).  A
    document shorter than n tokens yields its single short prefix —
    mirrored exactly by the SQL oracles."""
    toks = tokens(F.col(text_col))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def doc_lines(documents: DataFrame, text_col: str = "text",
              sep: str = "\n") -> DataFrame:
    """(doc_id, line_no, line) — non-empty trimmed lines with their
    position (map-side explode)."""
    return (documents
            .select("doc_id",
                    F.posexplode(F.split(F.col(text_col), sep))
                    .alias("line_no", "line"))
            .withColumn("line", F.trim("line"))
            .where(F.length("line") > 0))


def hot_lines(documents: DataFrame, min_docs: int = 2,
              text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Lines appearing in >= min_docs DISTINCT documents: the
    boilerplate table.  One hash-groupBy on the md5 of the line (the
    long line string itself never shuffles); output is corpus-
    frequency-bounded (every row is a real repeated line)."""
    lines = doc_lines(documents, text_col, sep)
    return (lines
            .groupBy(F.md5("line").alias("line_md5"))
            .agg(F.min("line").alias("line"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .where(F.col("n_docs") >= min_docs))


def strip_hot_lines(documents: DataFrame, min_docs: int = 2,
                    text_col: str = "text",
                    sep: str = "\n") -> DataFrame:
    """(doc_id, text) with boilerplate lines removed, original line
    order preserved (C4's line-dedup pass).

    Scale shape: lines explode map-side; the anti-join runs on the
    md5 key against the (bounded) hot-line table; reassembly is one
    groupBy(doc_id) over (line_no, line) structs — the only full
    shuffle, keyed by the document id, no skew (every doc has few
    lines).  Documents whose every line was boilerplate survive with
    empty text (the caller's length filter drops them)."""
    hot = hot_lines(documents, min_docs, text_col, sep).select("line_md5")
    kept = (doc_lines(documents, text_col, sep)
            .withColumn("line_md5", F.md5("line"))
            .join(hot, "line_md5", "left_anti"))
    rebuilt = (kept
               .groupBy("doc_id")
               .agg(F.concat_ws(sep, F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("line_no", "line"))),
                   lambda s: s["line"])).alias(text_col)))
    return (documents.select("doc_id")
            .join(rebuilt, "doc_id", "left")
            .withColumn(text_col, F.coalesce(F.col(text_col), F.lit(""))))


# conservative patterns valid in both Java regex (Spark) and RE2
# (DuckDB); applied in this order
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # no lookbehind (RE2): the leading + is matched by alternation
    (r"(\+\d{1,3}|\b\d{1,3})[- ]\d{3}[- ]\d{4,7}\b", "<PHONE>"),
)


def redact_pii(documents: DataFrame,
               text_col: str = "text") -> DataFrame:
    """+ ``text_redacted``: emails, IPv4 addresses and phone-shaped
    numbers replaced by typed placeholders — a chain of JVM-side
    regexp_replace (one scan, no Python)."""
    col = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return documents.withColumn("text_redacted", col)


def repetition_stats(documents: DataFrame,
                     ns: tuple = (2, 3),
                     text_col: str = "text") -> DataFrame:
    """(doc_id, frac_dup_{n} ...) — Gopher's duplicate-n-gram
    fraction: 1 - distinct/total over the NON-distinct n-gram list
    (map-side column expressions only)."""
    cols = [F.col("doc_id")]
    for n in ns:
        grams = ngram_array(n, text_col)
        cols.append(F.round(
            1.0 - F.size(F.array_distinct(grams))
            / F.size(grams), 4).alias("frac_dup_%d" % n))
    return documents.select(*cols)


def contaminated(documents: DataFrame, probes: DataFrame,
                 n: int = 13, text_col: str = "text") -> DataFrame:
    """Documents sharing ANY word n-gram with the probe (benchmark)
    set: (doc_id, n_hits).  The probe side is benchmark-sized —
    always broadcast; corpus n-grams explode map-side and are
    md5-keyed so only 32-hex strings travel into the join.  13 is the
    standard contamination window (GPT-3 appendix C / Gopher)."""
    probe_grams = (probes
                   .select(F.explode(F.array_distinct(
                       ngram_array(n, text_col))).alias("gram"))
                   .select(F.md5("gram").alias("gram_md5"))
                   .distinct())
    doc_grams = (documents
                 .select("doc_id",
                         F.explode(F.array_distinct(
                             ngram_array(n, text_col))).alias("gram"))
                 .select("doc_id", F.md5("gram").alias("gram_md5")))
    return (doc_grams
            .join(F.broadcast(probe_grams), "gram_md5")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))


def canonical_url(col):
    """Canonical form of a web URL as a pure column-expression chain
    (JVM-side, one scan — the normalize-before-dedup step every
    Common-Crawl-scale pipeline runs ahead of exact URL dedup):

    * scheme and authority lowercased; ``www.`` prefix dropped;
    * default ports stripped (``:80`` for http, ``:443`` for https);
    * fragment dropped;
    * duplicate path slashes collapsed, trailing slashes dropped
      (empty path normalizes to ``/``);
    * tracking query parameters removed (``utm_*``, ``fbclid``,
      ``gclid``, ``ref``), remaining parameters kept in order, a
      now-empty query dropped entirely.

    Non-URL strings (no ``scheme://``) pass through trimmed."""
    u = F.regexp_replace(F.trim(col), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([^:/?#]+)://", 1))
    auth = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    auth = F.regexp_replace(auth, r"^www\.", "")
    auth = F.when(scheme == "http",
                  F.regexp_replace(auth, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(auth, ":443$", "")) \
        .otherwise(auth)
    tail = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*(.*)$", 1)
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    path = F.regexp_replace(path, "/{2,}", "/")
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(tail, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike("^(utm_[^=]*|fbclid|gclid|ref)="))
    qs = F.concat_ws("&", params)
    rebuilt = F.concat(
        scheme, F.lit("://"), auth, path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)))
    return F.when(scheme == "", F.trim(col)).otherwise(rebuilt)


def host_of(col):
    """Registered host of a canonicalized URL (authority minus port) —
    the partitioning/skew key for per-domain policies (crawl budgets,
    hot-domain salting, robots rollups)."""
    auth = F.regexp_extract(col, r"^[^:/?#]+://([^:/?#]*)", 1)
    return F.when(auth == "", F.lit(None).cast("string")) \
        .otherwise(auth)


def url_host_stats(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, n_urls, n_canonical) per host after canonicalization —
    one hash aggregate; the distinct count is the URL-dedup yield per
    domain and the skew profile for salting decisions."""
    canon = pages.select(canonical_url(F.col(url_col)).alias("curl"))
    return (canon
            .withColumn("host", host_of(F.col("curl")))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.countDistinct("curl").alias("n_canonical")))


def c4_rules(documents: DataFrame) -> DataFrame:
    """The C4 page-level rule set (Raffel et al. 2020, §2.2) as an
    auditable per-document report: line-retention counts (a line
    survives iff it ends in terminal punctuation AND has >= 5 words),
    sentence count over the surviving lines, the "lorem ipsum" and
    curly-brace page poisons, and the composite keep decision
    (>= 3 sentences, no poison).  Complements the Gopher rule set
    (textstats.gopher_rules): C4 is line-oriented, Gopher
    token-oriented; production pipelines run both.

    Scale shape: one pure column expression per document — the line
    split, per-line filters, and sentence count are array ops inside
    whole-stage codegen; no shuffle, no UDF, no vocabulary state.

    Returns (doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
    has_brace, keep)."""
    lines = F.split(F.col("text"), "\n")
    is_kept = (lambda ln: ln.rlike('[.!?"]$')
               & (F.size(F.split(F.trim(ln), " +")) >= 5))
    kept = F.filter(lines, is_kept)
    kept_text = F.array_join(kept, "\n")
    n_sent = F.size(F.split(kept_text, "[.!?]")) - 1
    # case-insensitive like the C4 reference (it lowercases first) —
    # 'Lorem Ipsum' is the common capitalization in the wild
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    return documents.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        F.col("text").contains("{").alias("has_brace"),
        ((n_sent >= 3) & ~has_lorem
         & ~F.col("text").contains("{")).alias("keep"))


def best_capture(pages: DataFrame, url_col: str = "url",
                 ts_col: str = "warc_ts",
                 id_col: str = "doc_id") -> DataFrame:
    """Recrawl deduplication — Common-Crawl keeps many captures of
    the same page across monthly snapshots; a training corpus wants
    exactly one.  Canonicalize every URL (:func:`canonical_url`),
    then keep the NEWEST capture per canonical URL (tie-broken on the
    id for determinism), reporting how many captures collapsed.

    Scale shape: canonicalization is map-side; the capture count is
    one hash groupBy on the canonical URL; the keep-one decision is
    :func:`ferenda_spark.operators.training.domain_cap` with k=1 —
    the two-phase bucketed ranking, so a hot URL (a page captured in
    every snapshot) never lands in a single task.

    Returns (canonical_url, n_captures, <id_col>, <ts_col>) with one
    row per distinct canonical URL."""
    from .training import domain_cap
    canon = pages.withColumn("canonical_url",
                             canonical_url(F.col(url_col)))
    n = (canon.groupBy("canonical_url")
         .agg(F.count("*").alias("n_captures")))
    best = domain_cap(canon, "canonical_url",
                      [F.col(ts_col).desc(), F.col(id_col)],
                      k=1, id_col=id_col)
    return best.join(n, "canonical_url").select(
        "canonical_url", "n_captures", id_col, ts_col)


def host_graph(links: DataFrame, src_col: str = "url",
               dst_col: str = "href") -> DataFrame:
    """Host-level web-graph rollup (the Common-Crawl "domain graph"
    product): canonicalize both link endpoints, project to their
    hosts, and aggregate — (src_host, dst_host, n_links,
    n_src_pages).  The host graph is the authority/spam signal layer
    a crawl pipeline computes above the page-level link graph.

    Scale shape: canonicalization + host projection are map-side;
    ONE groupBy keyed on the host pair with map-side partials; the
    distinct-page count rides the same shuffle (countDistinct under
    the pair key).  Host-pair cardinality is quadratic only in
    HOSTS, not pages."""
    s = host_of(canonical_url(F.col(src_col)))
    d = host_of(canonical_url(F.col(dst_col)))
    return (links
            .select(s.alias("src_host"), d.alias("dst_host"),
                    F.col(src_col).alias("__u"))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct("__u").alias("n_src_pages")))


# ------------------------------------------------- value normalization

UNIT_FACTORS = (
    # unit, integer factor, SI dimension — integer factors only, so
    # normalized values are exact longs in every engine
    ("km", 1000, "m"), ("m", 1, "m"),
    ("kg", 1000, "g"), ("g", 1, "g"),
    ("GB", 1073741824, "B"), ("MB", 1048576, "B"),
    ("KB", 1024, "B"), ("B", 1, "B"),
)

_UNIT_RE = r"^(\d+) (\w+)$"


def normalize_units(df: DataFrame, value_col: str = "raw") -> DataFrame:
    """Infobox-value unit normalization (the DBpedia extraction-
    framework datatype step): parse ``"<int> <unit>"`` strings and
    rewrite them onto a base unit with integer factors, so '5 km'
    and '5000 m' become the same (5000, 'm') fact and fuse instead
    of conflicting.

    One regexp parse + a broadcast join against the (tiny) unit
    table — row-local, no shuffle on the fact side.  Unparseable or
    unknown-unit rows pass through with NULLs (quarantine column
    semantics).  Returns the input plus (amount, unit, value_si,
    dimension)."""
    spark = df.sparkSession
    units = spark.createDataFrame(
        list(UNIT_FACTORS), "unit string, factor long, dimension string")
    v = F.col(value_col).cast("string")
    parsed = df.withColumn(
        "amount",
        F.when(v.rlike(_UNIT_RE),
               F.regexp_extract(v, _UNIT_RE, 1).cast("long"))
    ).withColumn(
        "unit",
        F.when(v.rlike(_UNIT_RE), F.regexp_extract(v, _UNIT_RE, 2)))
    return (parsed
            .join(F.broadcast(units), "unit", "left")
            .withColumn("value_si", F.col("amount") * F.col("factor"))
            .drop("factor"))


_GEO_RE = ("^(\\d+\\.\\d+)° ([NS]), (\\d+\\.\\d+)° ([EW])$")


def parse_geo_coords(df: DataFrame, value_col: str = "raw") -> DataFrame:
    """Geo-coordinate literal parsing — '48.8584° N, 2.2945° E' ->
    signed (lat, lon) doubles, the coordinate half of infobox
    normalization.  Decimal-string-to-double parsing is IEEE-defined
    (nearest double), so both engines produce bit-identical values.
    Row-local expressions only; malformed rows get NULLs.  Returns
    the input plus (lat, lon)."""
    v = F.col(value_col).cast("string")
    lat = F.regexp_extract(v, _GEO_RE, 1).cast("double")
    ns = F.regexp_extract(v, _GEO_RE, 2)
    lon = F.regexp_extract(v, _GEO_RE, 3).cast("double")
    ew = F.regexp_extract(v, _GEO_RE, 4)
    ok = v.rlike(_GEO_RE)
    return (df
            .withColumn("lat", F.when(
                ok, F.when(ns == "S", -lat).otherwise(lat)))
            .withColumn("lon", F.when(
                ok, F.when(ew == "W", -lon).otherwise(lon))))


def link_spam_features(host_edges: DataFrame) -> DataFrame:
    """Link-farm signals over the host graph (:func:`host_graph`
    output or any (src_host, dst_host[, n_links]) edge list).

    Per host: out_hosts / in_hosts (distinct neighbor counts),
    self_links (host linking to itself), recip_hosts (out-neighbors
    that link back — the mutual-admiration signature of link
    exchanges, TrustRank/anti-spam literature's first-order feature),
    and reciprocity_ppm = recip_hosts * 1e6 div out_hosts — integer
    arithmetic end to end so the SQL oracle matches bit-for-bit.

    Scale shape: edges deduped once; reciprocity is a self-join on
    the REVERSED host pair (keyed on the pair, never on a single hot
    host); degree counts are two groupBys with map-side partials; the
    final assembly joins dimension-sized per-host aggregates.  No
    step is keyed coarser than a host, so hot domains salt/AQE the
    same way the page-level joins do.
    """
    e = (host_edges.select("src_host", "dst_host").distinct()
         .localCheckpoint(eager=True))
    fwd = e.where(F.col("src_host") != F.col("dst_host"))
    selfs = (e.where(F.col("src_host") == F.col("dst_host"))
             .select(F.col("src_host").alias("host"),
                     F.lit(1).cast("long").alias("self_links")))
    outd = fwd.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_hosts"))
    ind = fwd.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_hosts"))
    rev = fwd.select(F.col("dst_host").alias("src_host"),
                     F.col("src_host").alias("dst_host"))
    recip = (fwd.join(rev, ["src_host", "dst_host"])
             .groupBy(F.col("src_host").alias("host"))
             .agg(F.count(F.lit(1)).cast("long").alias("recip_hosts")))
    out = (outd.join(ind, "host", "full")
           .join(recip, "host", "left")
           .join(selfs, "host", "left")
           .na.fill(0, ["out_hosts", "in_hosts", "recip_hosts",
                        "self_links"]))
    return out.withColumn(
        "reciprocity_ppm",
        F.when(F.col("out_hosts") > 0,
               F.expr("recip_hosts * 1000000 div out_hosts"))
        .otherwise(F.lit(0).cast("long")))


# --------------------------------------------------------- mojibake

# the classic double-encoded-UTF-8 signature: a UTF-8 lead byte
# 0xC2/0xC3 decoded as latin-1 then re-encoded, followed by a
# decoded continuation byte in U+0080-U+00BF (built with chr() so the
# source file stays ASCII-clean)
MOJIBAKE_DOUBLE_PAT = "[%s%s][%s-%s]" % (chr(0xC2), chr(0xC3),
                                         chr(0x80), chr(0xBF))
# C1 control block: what cp1252 bytes 0x80-0x9f become when a page is
# mislabeled / misdecoded as latin-1
MOJIBAKE_C1_PAT = "[%s-%s]" % (chr(0x80), chr(0x9F))
# U+FFFD: the decoder already gave up
MOJIBAKE_REPLACEMENT = chr(0xFFFD)


def mojibake_stats(documents: DataFrame, text_col: str = "text",
                   id_col: str = "url") -> DataFrame:
    """Encoding-corruption (mojibake) signals per document -- the
    ftfy-style triage a web corpus runs before training: pages whose
    bytes were decoded with the wrong charset poison tokenizers and
    dedup alike, and all three corruption modes are pure character
    patterns:

    * ``n_double_utf8`` -- count of :data:`MOJIBAKE_DOUBLE_PAT`
      matches (UTF-8 read as latin-1 then re-encoded: 'e-acute'
      becomes the two-character 'A-tilde + copyright-sign' sequence);
    * ``n_c1`` -- C1 control characters U+0080-U+009F (cp1252 bytes
      surviving a latin-1 decode);
    * ``n_replacement`` -- U+FFFD replacement characters;
    * ``mojibake_per_1k`` -- (sum of the three) * 1000 / n_chars, one
      IEEE division, NULL for empty documents.

    Pure whole-stage codegen (three ``regexp_count`` scans), no
    shuffle -- a 100 TB corpus maps straight through, and the column
    feeds the same quality-filter stage as the Gopher/C4 rules.
    """
    t = F.col(text_col)
    nd = F.regexp_count(t, F.lit(MOJIBAKE_DOUBLE_PAT)).cast("long")
    nc = F.regexp_count(t, F.lit(MOJIBAKE_C1_PAT)).cast("long")
    nr = F.regexp_count(t, F.lit(MOJIBAKE_REPLACEMENT)).cast("long")
    n_chars = F.length(t).cast("long")
    return documents.select(
        F.col(id_col),
        nd.alias("n_double_utf8"),
        nc.alias("n_c1"),
        nr.alias("n_replacement"),
        n_chars.alias("n_chars"),
        F.when(n_chars > 0,
               (nd + nc + nr).cast("double") * 1000.0 / n_chars)
        .alias("mojibake_per_1k"))


def compression_ratio(documents: DataFrame, text_col: str = "text",
                      id_col: str = "url", level: int = 6) -> DataFrame:
    """Compressibility quality signal (the Gopher-era heuristic:
    near-random text and degenerate repetition both stand out):
    per-document DEFLATE size at a fixed level over the UTF-8 bytes,
    and ``ratio = n_compressed / n_bytes`` (one IEEE division, NULL
    for empty documents).

    This is the repo's honest Python-kernel path: zlib is not
    expressible as a Catalyst expression, so it runs as a
    ``map_rows`` stage (the per-row work is C-backed zlib).
    Deterministic for a fixed zlib build -- the correctness gate
    records a rows-only check (DuckDB has no DEFLATE), and the pytest
    suite pins exact parity against local zlib.

    Returns (id, n_bytes, n_compressed, ratio); the id passes through
    unchanged and a NULL text gives NULL sizes and ratio.
    """
    import zlib
    lvl = int(level)

    def row(doc_id, text):
        if text is None:
            return [(doc_id, None, None)]
        raw = text.encode("utf-8")
        return [(doc_id, len(raw), len(zlib.compress(raw, lvl)))]

    sized = map_rows(
        documents.select(id_col, text_col), row,
        "id %s, n_bytes long, n_compressed long"
        % documents.schema[id_col].dataType.simpleString())
    return sized.select(
        F.col("id").alias(id_col), "n_bytes", "n_compressed",
        F.when(F.col("n_bytes") > 0,
               F.col("n_compressed").cast("double") / F.col("n_bytes"))
        .alias("ratio"))


def lang_outliers(pages: DataFrame, host_col: str = "host",
                  lang_col: str = "lang") -> DataFrame:
    """Host-level language-consistency audit: a host serving 95%
    Swedish and 5% English is usually leaking navigation chrome,
    scraped spam, or a mislabeled lang-ID -- the outlier slice is
    what a multilingual corpus reviews before training.  Per
    (host, language): the count, the host's majority language
    (count DESC, language ASC tie-break -- total order), the host's
    majority purity (one division), and ``is_outlier``.

    Scale shape: ONE groupBy on (host, lang), then a window over the
    host dimension (rows = host x language vocabulary, not pages).
    Returns (host, lang, n, majority_lang, purity, is_outlier).
    """
    from pyspark.sql import Window
    cnt = (pages.groupBy(F.col(host_col).alias("host"),
                         F.col(lang_col).alias("lang"))
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = Window.partitionBy("host")
    w_rank = w.orderBy(F.col("n").desc(), "lang")
    ranked = (cnt
              .withColumn("r", F.row_number().over(w_rank))
              .withColumn("n_host", F.sum("n").over(w).cast("long"))
              .withColumn("n_major",
                          F.max(F.when(F.col("r") == 1, F.col("n")))
                          .over(w).cast("long"))
              .withColumn("majority_lang",
                          F.max(F.when(F.col("r") == 1, F.col("lang")))
                          .over(w)))
    return ranked.select(
        "host", "lang", "n", "majority_lang",
        (F.col("n_major").cast("double") / F.col("n_host"))
        .alias("purity"),
        (F.col("lang") != F.col("majority_lang")).alias("is_outlier"))


# --- jusText/Boilerpipe-style per-page main-content extraction ------
#
# strip_hot_lines removes CORPUS-frequency boilerplate; this family
# removes STRUCTURAL boilerplate a single page declares about itself
# (nav bars, link footers, button rows) the way jusText (Pomikalek
# 2011) and Boilerpipe (Kohlschuetter 2010) do: segment the DOM into
# leaf blocks, score each by link density and length, then smooth
# short/near blocks by their neighbors' context-free labels.

BLOCK_TAGS = frozenset((
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "div", "li", "td",
    "blockquote", "pre", "section", "article", "header", "footer",
    "nav", "aside", "figcaption", "caption", "dd", "dt"))

CONTENT_BLOCK_SCHEMA = ("url string, block_id int, tag string, "
                        "text string, n_words int, link_permille int")


def _has_block_child(n):
    for c in n.children:
        if not isinstance(c, str):
            if c.tag in BLOCK_TAGS or _has_block_child(c):
                return True
    return False


def _content_block_row(url, raw):
    rows = []

    def emit(n):
        parts, link_parts = [], []

        def walk(c, in_link):
            if isinstance(c, str):
                parts.append(c)
                if in_link:
                    link_parts.append(c)
                return
            for g in c.children:
                walk(g, in_link or c.tag == "a")

        walk(n, False)
        txt = normalize_space("".join(parts))
        if not txt:
            return          # whitespace-only block: no row
        link_chars = len(normalize_space("".join(link_parts)))
        rows.append((url, len(rows), n.tag, txt, len(txt.split()),
                     1000 * link_chars // len(txt)))

    def scan(n):
        if isinstance(n, str):
            return
        if n.tag in BLOCK_TAGS and not _has_block_child(n):
            emit(n)
            return
        for c in n.children:
            scan(c)

    scan(parse_html(decode_html(raw)))
    return rows


def content_blocks(pages: DataFrame) -> DataFrame:
    """Segment each page's DOM into LEAF blocks (a block-level element
    with no block-level descendant) in document order, with the two
    jusText scoring features per block: word count and link density
    (chars inside ``<a>`` descendants, as an integer permille so no
    float crosses an engine boundary).  Whitespace-only blocks emit
    no row; text sitting directly in a NON-leaf container (mixed
    content) is attributed to no block, matching jusText's
    segmentation.

    Scale shape: one ``map_rows`` pass over (url, html) -- one DOM
    pass per page, page bytes dropped at the stage boundary, no
    shuffle."""
    return map_rows(pages.select("url", "html"), _content_block_row,
                    CONTENT_BLOCK_SCHEMA)


def classify_blocks(blocks: DataFrame, good_words: int = 20,
                    near_words: int = 5,
                    max_link_permille: int = 333) -> DataFrame:
    """Context-free jusText labels as pure column expressions:
    ``bad`` when link density exceeds 1/3, else ``good`` / ``near`` /
    ``short`` by word count.  No shuffle."""
    lbl = (F.when(F.col("link_permille") > max_link_permille, "bad")
           .when(F.col("n_words") >= good_words, "good")
           .when(F.col("n_words") >= near_words, "near")
           .otherwise("short"))
    return blocks.withColumn("label_cf", lbl)


def smooth_blocks(labeled: DataFrame) -> DataFrame:
    """jusText's context pass over the block SEQUENCE: a ``near``
    block becomes good next to (either side) a context-free good
    block, a ``short`` block only BETWEEN two good blocks; both
    otherwise fall to bad.  Neighbors are the context-free labels,
    so one window pass suffices (no fixpoint).

    One shuffle: a window partitioned by url ordered by block_id --
    blocks-per-page is bounded, so partitions stay small at any
    corpus size."""
    from pyspark.sql import Window
    w = Window.partitionBy("url").orderBy("block_id")
    prev_good = F.coalesce(
        F.lag("label_cf").over(w) == "good", F.lit(False))
    next_good = F.coalesce(
        F.lead("label_cf").over(w) == "good", F.lit(False))
    lbl = (F.when(F.col("label_cf") == "near",
                  F.when(prev_good | next_good, "good")
                  .otherwise("bad"))
           .when(F.col("label_cf") == "short",
                 F.when(prev_good & next_good, "good")
                 .otherwise("bad"))
           .otherwise(F.col("label_cf")))
    return labeled.withColumn("label", lbl)


def main_content(pages: DataFrame, good_words: int = 20,
                 near_words: int = 5,
                 max_link_permille: int = 333) -> DataFrame:
    """The composed extractor: per page, the newline-joined text of
    the final-good blocks plus block counters -- what an LLM corpus
    pipeline stores as the document text.  Returns (url, n_blocks,
    n_good, main_text); pages whose blocks are all boilerplate keep
    a row with n_good = 0 and empty main_text (the filter decision
    belongs to the caller)."""
    sm = smooth_blocks(classify_blocks(
        content_blocks(pages), good_words=good_words,
        near_words=near_words, max_link_permille=max_link_permille))
    good = F.when(F.col("label") == "good",
                  F.struct(F.col("block_id"), F.col("text")))
    return (sm.groupBy("url")
            .agg(F.count("*").cast("int").alias("n_blocks"),
                 F.sum((F.col("label") == "good").cast("int"))
                 .cast("int").alias("n_good"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(good)),
                         lambda s: s.text),
                     "\n").alias("main_text")))


def template_signature(pages: DataFrame, html_col: str = "html",
                       id_col: str = "url") -> DataFrame:
    """Per-page DOM template fingerprint: md5 of the document's tag
    sequence (element names in document order, attributes and text
    stripped).  Pages rendered from the same server-side template
    produce byte-identical tag sequences no matter how their copy
    differs — the structural analogue of content MinHash, and the
    cheap signal behind template-level boilerplate induction
    (Gibson/Punera/Tomkins 2005 measured ~40-50% of the web is
    template markup): cluster by signature first, THEN learn
    per-template boilerplate from a handful of examples per
    cluster instead of per-page heuristics over 10^12 pages.

    One ``regexp_extract_all`` + md5 per page — map-only JVM
    expressions, no shuffle.  Closing tags and self-closing tags are
    ignored (openers alone already determine the tree shape given
    HTML's nesting rules; and real-world unclosed tags would make
    closers noisy).

    Returns (id, signature, n_tags).
    """
    tags = F.expr(
        "regexp_extract_all(lower(%s), r'<([a-z][a-z0-9]*)', 1)"
        % html_col)
    return pages.select(
        F.col(id_col),
        F.md5(F.concat_ws(",", tags)).alias("signature"),
        F.size(tags).cast("long").alias("n_tags"))


def template_clusters(pages: DataFrame, html_col: str = "html",
                      id_col: str = "url") -> DataFrame:
    """Group pages by DOM template fingerprint: one hash groupBy on
    the md5 signature (single shuffle of (signature, id) pairs —
    never page bodies).  ``example_id`` (the minimum page id) gives
    each cluster a stable representative to fetch when a human or a
    boilerplate learner needs to LOOK at the template.

    Returns (signature, n_pages, n_tags, example_id).
    """
    sig = template_signature(pages, html_col=html_col, id_col=id_col)
    return (sig.groupBy("signature")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                 F.min("n_tags").cast("long").alias("n_tags"),
                 F.min(id_col).alias("example_id")))


def geo_join(points: DataFrame, radius_micro: int,
             cell_micro: int = None,
             id_col: str = "point_id",
             lat_col: str = "lat_micro",
             lon_col: str = "lon_micro") -> DataFrame:
    """Radius self-join over points via grid-cell bucketing — the
    spatial join (place dedup / venue conflation in KG construction:
    two extracted places within ~100 m are merge candidates) with
    the standard scale defense: NEVER all-pairs.  Each point lands
    in one ``cell_micro``-sized grid cell and is REPLICATED into its
    3x3 cell neighborhood on the probe side, so candidate pairs come
    from an equi-join on the cell key (the LSH-bucket discipline,
    geohash-style) and the exact distance check runs only inside
    neighborhoods.  With cell >= radius the neighborhood join is
    exact (no missed pairs).

    Coordinates are integer micro-degrees and the distance test is
    the squared planar metric ``dlat^2 + dlon^2 <= radius^2`` — a
    DECLARED small-region equirectangular approximation (no
    haversine: sin/cos are not correctly rounded and engines
    disagree; at city scale the planar error is far below any
    conflation threshold, and the integer form is engine-exact).

    Emits each unordered pair once (id_a < id_b).  Returns (id_a,
    id_b, dist_sq_micro).
    """
    if cell_micro is None:
        cell_micro = int(radius_micro)
    cell_micro = max(int(cell_micro), 1)
    p = points.select(F.col(id_col).alias("pid"),
                      F.col(lat_col).cast("long").alias("la"),
                      F.col(lon_col).cast("long").alias("lo"))
    cx = F.expr("la div %d" % cell_micro)
    cy = F.expr("lo div %d" % cell_micro)
    home = p.select("pid", "la", "lo", cx.alias("cx"), cy.alias("cy"))
    off = F.expr("explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1), "
                 "array(-1,0,1,-1,0,1,-1,0,1)))")
    probe = (p.select("pid", "la", "lo", cx.alias("hx"),
                      cy.alias("hy"), off.alias("o"))
             .select(F.col("pid").alias("pid_b"),
                     F.col("la").alias("lb"),
                     F.col("lo").alias("ob"),
                     (F.col("hx") + F.col("o.0")).alias("cx"),
                     (F.col("hy") + F.col("o.1")).alias("cy")))
    r2 = int(radius_micro) * int(radius_micro)
    d2 = ((F.col("la") - F.col("lb")) * (F.col("la") - F.col("lb"))
          + (F.col("lo") - F.col("ob")) * (F.col("lo") - F.col("ob")))
    return (home.join(probe, ["cx", "cy"])
            .where(F.col("pid") < F.col("pid_b"))
            .where(d2 <= r2)
            .select(F.col("pid").alias("id_a"),
                    F.col("pid_b").alias("id_b"),
                    d2.cast("long").alias("dist_sq_micro"))
            .distinct())


def luhn_card_candidates(documents: DataFrame,
                         doc_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Checksum-validated payment-card PII detection: every 13-19
    digit run (allowing space/dash separators, the PAN formats) is
    extracted and validated with the Luhn mod-10 checksum (ISO/IEC
    7812) — the validation step that separates real card numbers
    from order ids and phone numbers, which is exactly what a
    regex-only PII pass cannot do (9 of 10 random digit runs fail
    Luhn, so the false-positive rate drops an order of magnitude).

    Pure JVM column program: regexp_extract_all for candidate runs,
    digit normalization, and the checksum as a higher-order
    ``aggregate`` over the reversed digit array (double every second
    digit from the right, subtract 9 over 9, sum mod 10) — no UDF,
    no Python in the row path; candidates are rare so the explode is
    sparse.

    Returns (doc_id, candidate, digits, n_digits, luhn_valid,
    issuer) — issuer is the standard IIN-prefix classification
    (visa/mastercard/amex/discover/other) for valid numbers."""
    cand = F.expr(
        "regexp_extract_all(%s, '(?<![0-9])((?:[0-9][ -]?){12,18}[0-9])"
        "(?![0-9])', 1)" % text_col)
    base = (documents
            .select(F.col(doc_col).alias("doc_id"),
                    F.explode(cand).alias("candidate"))
            .withColumn("digits",
                        F.regexp_replace("candidate", "[ -]", ""))
            .withColumn("n_digits", F.length("digits").cast("int"))
            .where((F.col("n_digits") >= 13)
                   & (F.col("n_digits") <= 19)))
    # Luhn over the reversed digit array: positions 1,3,5,... (odd,
    # 0-indexed from the right) double; >9 folds back by -9
    rev = F.split(F.reverse(F.col("digits")), "(?!$)")
    total = F.aggregate(
        F.zip_with(rev,
                   F.sequence(F.lit(0), F.size(rev) - 1),
                   lambda d, i: F.when(
                       i % 2 == 1,
                       F.when(d.cast("int") * 2 > 9,
                              d.cast("int") * 2 - 9)
                       .otherwise(d.cast("int") * 2))
                   .otherwise(d.cast("int"))),
        F.lit(0),
        lambda acc, x: acc + x)
    issuer = (F.when(F.col("digits").rlike("^4"), "visa")
              .when(F.col("digits").rlike("^5[1-5]"), "mastercard")
              .when(F.col("digits").rlike("^3[47]"), "amex")
              .when(F.col("digits").rlike("^6(011|5)"), "discover")
              .otherwise("other"))
    return (base
            .withColumn("luhn_valid", (total % 10) == 0)
            .withColumn("issuer",
                        F.when(F.col("luhn_valid"), issuer))
            .select("doc_id", "candidate", "digits", "n_digits",
                    "luhn_valid", "issuer"))
