"""Extract stage: pages -> parsed documents (one Arrow row mapper).

The Spark restatement of the reference's parse pipeline
(documentrepository.py:1118-1141 / rfc.py:456-474): one Arrow batch in,
one parsed-docs batch out; FSM/DOM logic is sequential per document but
vectorized across documents (SURVEY.md §2.10).  Per-row failures are
captured into an ``error`` column instead of failing the task — the
reference's per-doc error isolation (documententry.py:292-335,
decorators.py:232-266; SURVEY.md I4/X10).

Scale notes: the stage is embarrassingly parallel (no shuffle); at
100 TB the input table's partitioning (url-prefix/warc_ts from the
Iceberg layout) flows straight through.  ``html`` is dropped from the
output schema so the downstream DAG never carries page bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..htmlelements import decode_html, node_text, parse_html
from ..parsepage import parse_page
from ..rowmap import map_rows

PARSED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, kind string, "
    "title string, text string, preamble string, "
    "sections array<struct<ordinal:string, title:string, text:string>>, "
    "links array<string>, error string"
)

_EMPTY = {"title": None, "lang": None, "text": None, "preamble": None,
          "kind": None, "sections": [], "links": []}


def _parse_row(url, warc_ts, html, lang):
    try:
        d = parse_page(html, default_lang=lang or "en")
        err = None
    except Exception as e:  # quarantine, never abort the corpus
        d, err = _EMPTY, "%s: %s" % (type(e).__name__, e)
    yield (url, warc_ts, d["lang"] or lang, d["kind"], d["title"],
           d["text"], d["preamble"], d["sections"], d["links"], err)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> parsed docs."""
    return map_rows(pages.select("url", "warc_ts", "html", "lang"),
                    _parse_row, PARSED_SCHEMA)


LEGAL_MENTIONS_SCHEMA = ("url string, kind string, start int, "
                         "end int, anchor string, target_uri string")


LEGAL_SCANNERS = ("sfs", "caselaw", "avg", "forarbeten", "eglag", "ecj")


def _legal_row(url, text):
    from .. import legalref as L
    for kind, fn in (("sfs", L.scan_legal_refs), ("caselaw", L.scan_caselaw),
                     ("avg", L.scan_avg), ("forarbeten", L.scan_forarbeten),
                     ("eglag", L.scan_eglag), ("ecj", L.scan_ecj)):
        pos = 0
        for seg in fn(text or ""):
            if seg[0] == "link":
                yield (url, kind, pos, pos + len(seg[1]), seg[1], seg[2])
            pos += len(seg[1])


def legal_mentions(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """T8 as a Spark stage: legal-reference mention rows
    (url, kind, start, end, anchor, target_uri) from ALL grammar
    families (statutes, case law, agency decisions, preparatory
    works, EU law) via the Arrow-batched scanners; dictionaries ship
    inside the UDF (broadcast analogue).  No shuffle."""
    return map_rows(docs.select("url", text_col), _legal_row,
                    LEGAL_MENTIONS_SCHEMA)


def mention_contexts(mentions: DataFrame, docs: DataFrame,
                     before: int = 20, after: int = 20,
                     text_col: str = "text") -> DataFrame:
    """Evidence snippets for extracted KG edges: the +-N-character
    window around each mention (KWIC concordance) — what a human
    reviewer or a reranker model sees next to the minted triple.
    The reference keeps the source span implicitly via the RDFa
    element; at pipeline scale the snippet is materialized alongside
    the mention row.

    Pure column expressions after one url-keyed equi-join of the
    mention rows to the doc text (both sides corpus-sized, standard
    shuffle join).  Offsets are 0-based [start, end); substring() is
    1-based, hence the +1."""
    ctx_start = F.greatest(F.lit(0), F.col("start") - before)
    ctx_len = (F.col("end") - ctx_start) + after
    return (mentions
            .join(docs.select("url", text_col), "url")
            .select("url", "kind", "start", "end", "anchor",
                    F.substring(F.col(text_col), ctx_start + 1, ctx_len)
                    .alias("context")))


TABLE_CELLS_SCHEMA = ("url string, table_idx int, row_idx int, "
                      "col_idx int, cell string")


def _table_row(url, raw):
    tables = []

    def find_tables(n):
        if isinstance(n, str):
            return
        if n.tag == "table":
            tables.append(n)
            return          # nested tables stay inside parent
        for c in n.children:
            find_tables(c)

    find_tables(parse_html(decode_html(raw)))
    for t_idx, t in enumerate(tables):
        r_idx = 0
        for tr in (c for c in t.children
                   if not isinstance(c, str) and c.tag == "tr"):
            c_idx = 0
            for td in (c for c in tr.children
                       if not isinstance(c, str) and c.tag in ("td", "th")):
                yield (url, t_idx, r_idx, c_idx, node_text(td))
                c_idx += 1
            r_idx += 1


def html_table_cells(pages: DataFrame) -> DataFrame:
    """(url, html) -> one row per table cell (url, table_idx, row_idx,
    col_idx, cell): the DBpedia-infobox-style structured-data source —
    web KGs mine most of their literal facts from exactly these
    key/value tables.  Real DOM parse (same parser as the extract
    stage, <td>/<th> both counted), Arrow-batched, no shuffle."""
    return map_rows(pages.select("url", "html"), _table_row,
                    TABLE_CELLS_SCHEMA)


# ---------------------------------------------------- structured data

JSONLD_RE = r'<script type="application/ld\+json">(.*?)</script>'


def jsonld_triples(pages: DataFrame, html_col: str = "html",
                   prop_ns: str = "urn:schema:") -> DataFrame:
    """schema.org JSON-LD extraction: pull the
    ``<script type="application/ld+json">`` block out of each page
    and flatten its top-level scalar properties into (subj, pred,
    obj) triples — ``@id`` becomes the subject, ``@type`` becomes an
    rdf:type triple, every other key becomes ``<prop_ns><key>``.
    This is the other half of the DBpedia/web-KG structured-data
    story next to :func:`html_table_cells` (infoboxes): most
    schema.org facts on the open web ship exactly this way.

    The reference mines metadata from RDFa attributes in parsed XHTML
    (/root/reference/ferenda/documentrepository.py distill paths);
    JSON-LD is the modern equivalent surface.

    Scale shape: one ``regexp_extract`` + ``from_json`` +
    ``explode`` — whole-stage-codegen JVM expressions, no Python, no
    shuffle; page bytes are dropped before the explode so the DAG
    never carries html past the scan.  Flat string-valued objects
    only (nested JSON-LD graphs would route through the DOM/Arrow
    path like tables do)."""
    blob = F.regexp_extract(F.col(html_col).cast("string"),
                            JSONLD_RE, 1)
    kv = F.from_json(blob, "map<string,string>")
    rows = (pages
            .select(F.col("url"), kv.alias("kv"))
            .where(F.col("kv").isNotNull())
            .select("url", F.col("kv")["@id"].alias("subj"),
                    F.explode("kv").alias("key", "value"))
            .where(F.col("subj").isNotNull()))
    return (rows.where(F.col("key") == "@type")
            .select("url", "subj",
                    F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
                    .alias("pred"),
                    F.col("value").alias("obj"))
            .unionByName(
                rows.where(~F.col("key").startswith("@"))
                .select("url", "subj",
                        F.concat(F.lit(prop_ns), F.col("key"))
                        .alias("pred"),
                        F.col("value").alias("obj"))))


HEARST_SUCH_AS = r"(\w+) such as ((?:\w+, )*\w+ and \w+)"


def hearst_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hearst-pattern hypernym mining (Hearst 1992): find every
    ``X such as A, B and C`` span in the text and emit one
    (hypernym, hyponym) row per listed item — the classic
    taxonomy-induction signal for KG construction from web text.

    Pure JVM: ``regexp_extract_all`` over the text, one explode per
    match, ``split`` + explode for the item list; no Python, no
    shuffle, text dropped immediately.  Only the ``such as`` pattern
    is wired (the highest-precision one); the other Hearst templates
    ("including", "especially") are the same expression with a
    different regex."""
    spans = (docs
             .select(F.col("url"),
                     F.explode(F.regexp_extract_all(
                         F.col(text_col).cast("string"),
                         F.lit(HEARST_SUCH_AS), F.lit(0)))
                     .alias("span")))
    hyper = F.regexp_extract(F.col("span"), HEARST_SUCH_AS, 1)
    items = F.regexp_extract(F.col("span"), HEARST_SUCH_AS, 2)
    return (spans
            .select("url", F.lower(hyper).alias("hypernym"),
                    F.explode(F.split(
                        F.regexp_replace(items, r" and ", ", "),
                        ", ")).alias("hyponym"))
            .select("url", "hypernym", F.lower("hyponym").alias("hyponym")))


QUOTE_SAID = r'"([^"]+)," said ([A-Z]\w+ [A-Z]\w+)'


def quote_attribution(docs: DataFrame,
                      text_col: str = "text") -> DataFrame:
    """Quote-speaker attribution: pull every ``"...," said First
    Last`` span out of the text and emit (url, speaker, quote) — the
    news-domain extraction that feeds quotation KGs (who-said-what
    edges).  Only the postposed ``said`` frame is wired (the highest-
    precision one); preposed and other verbs are the same expression
    with a different regex.

    Pure JVM: one ``regexp_extract_all`` + explode + two
    ``regexp_extract`` projections — whole-stage codegen, no Python,
    text dropped at the explode."""
    spans = (docs
             .select(F.col("url"),
                     F.explode(F.regexp_extract_all(
                         F.col(text_col).cast("string"),
                         F.lit(QUOTE_SAID), F.lit(0))).alias("span")))
    return (spans
            .select("url",
                    F.regexp_extract("span", QUOTE_SAID, 2)
                    .alias("speaker"),
                    F.regexp_extract("span", QUOTE_SAID, 1)
                    .alias("quote")))


def table_column_types(cells: DataFrame) -> DataFrame:
    """Semantic column typing for mined HTML tables — the step that
    turns :func:`html_table_cells` output into KG-loadable columns
    (a date column becomes a dcterms:date property, an URL column a
    resource link).  Per cell: ``int`` (all digits), ``date``
    (ISO yyyy-mm-dd), ``url`` (http/https), else ``text``; the
    column's type is the majority vote over its cells, ties broken
    to the lexicographically smallest type name so the result is a
    pure function of the input.

    Row-local CASE + one (url, table, col) groupBy + min-of-argmax —
    the same two-shuffle majority shape as label propagation's round.
    Returns (url, table_idx, col_idx, col_type, n_cells)."""
    cell_type = (
        F.when(F.col("cell").rlike(r"^\d+$"), "int")
        .when(F.col("cell").rlike(r"^\d{4}-\d{2}-\d{2}$"), "date")
        .when(F.col("cell").rlike(r"^https?://"), "url")
        .otherwise("text"))
    counts = (cells
              .select("url", "table_idx", "col_idx",
                      cell_type.alias("t"))
              .groupBy("url", "table_idx", "col_idx", "t")
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    mx = (counts.groupBy("url", "table_idx", "col_idx")
          .agg(F.max("c").alias("mx"),
               F.sum("c").cast("long").alias("n_cells")))
    return (counts
            .join(mx, ["url", "table_idx", "col_idx"])
            .where(F.col("c") == F.col("mx"))
            .groupBy("url", "table_idx", "col_idx", "n_cells")
            .agg(F.min("t").alias("col_type"))
            .select("url", "table_idx", "col_idx", "col_type",
                    "n_cells"))


def schema_match(left: DataFrame, right: DataFrame) -> DataFrame:
    """Schema matching between two mined column sets by instance
    overlap (the WebTables / Cafarella 2008 recipe): two relations of
    (col, value) observations; candidate column pairs are scored by
    the Jaccard of their distinct value sets — the signal used to
    union-align tables mined from different sites before loading
    them into one KG property.

    Shape: distinct per side, one value-keyed equi-join for the
    intersection counts, two per-column distinct counts, two
    dimension-sized joins back — every shuffle keyed on the value or
    the column id, no cross join over column pairs (pairs emerge from
    the value join, so disjoint columns never meet).  Returns
    (col_a, col_b, n_shared, n_a, n_b, jaccard)."""
    la = (left.select(F.col("col").alias("col_a"),
                      F.col("value").cast("string").alias("value"))
          .distinct())
    rb = (right.select(F.col("col").alias("col_b"),
                       F.col("value").cast("string").alias("value"))
          .distinct())
    shared = (la.join(rb, "value")
              .groupBy("col_a", "col_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    na = la.groupBy("col_a").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_a"))
    nb = rb.groupBy("col_b").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_b"))
    return (shared.join(na, "col_a").join(nb, "col_b")
            .select("col_a", "col_b", "n_shared", "n_a", "n_b",
                    (F.col("n_shared")
                     / (F.col("n_a") + F.col("n_b")
                        - F.col("n_shared"))).alias("jaccard")))


def fd_discovery(rows: DataFrame, cols: list) -> DataFrame:
    """Functional-dependency / key discovery over a mined table (the
    profiling step that picks the subject column before table->KG
    loading): for every ordered column pair (lhs, rhs), does
    lhs -> rhs hold, and how many lhs groups violate it?

    ``cols`` is schema-sized, so the pair loop is driver-side plan
    construction only; each pair costs one (lhs)-groupBy counting
    distinct rhs values plus a 1-row aggregate, and the per-pair
    results union into one frame.  At petabyte row counts this is
    the standard one-pass-per-pair profile (TANE-style pruning would
    drop strictly-dominated pairs; deliberately not done — the pair
    set is tiny and the full audit matrix is the product).  Returns
    (lhs, rhs, holds, n_violations)."""
    parts = []
    for x in cols:
        for y in cols:
            if x == y:
                continue
            g = (rows.groupBy(F.col(x).alias("k"))
                 .agg(F.countDistinct(F.col(y)).alias("nd")))
            parts.append(
                g.agg(F.lit(x).alias("lhs"), F.lit(y).alias("rhs"),
                      (F.max("nd") <= 1).alias("holds"),
                      F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                      .cast("long").alias("n_violations")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def inclusion_deps(rows: DataFrame, cols: list) -> DataFrame:
    """Unary inclusion-dependency discovery (the other half of the
    table->KG profiling step next to :func:`fd_discovery`): for every
    ordered column pair, does values(lhs) ⊆ values(rhs) hold — the
    foreign-key candidate test that decides which mined column can
    join which.

    This is the SINDY shape (Kruse et al., BTW 2015), the algorithm
    *designed* for this on map/reduce engines: stack all columns into
    (attr, value) pairs, dedup, group ONCE on the value to get each
    value's attribute set (fan-out bounded by |cols|, never by row
    count), explode the per-value set into ordered attr pairs, and
    count per pair the values both attributes share.  lhs ⊆ rhs iff
    n_shared(lhs, rhs) == n_distinct(lhs).  No pairwise column join
    ever runs, and the value-keyed groupBy is the only data-sized
    shuffle — at 10^12 rows this is one exchange on the value hash,
    which is what makes SINDY the published answer at this scale.
    NULLs are ignored (standard IND semantics).  ``cols`` is
    schema-sized; the full audit matrix (including pairs sharing
    zero values) is emitted via a plan-time candidate list.

    Returns (lhs, rhs, n_lhs_values, n_shared_values, holds)."""
    spark = rows.sparkSession
    stacked = None
    for c in cols:
        part = (rows.select(F.lit(c).alias("attr"),
                            F.col(c).cast("string").alias("value"))
                .where(F.col(c).isNotNull()))
        stacked = part if stacked is None else stacked.unionByName(part)
    av = stacked.distinct()
    inv = av.groupBy("value").agg(F.collect_set("attr").alias("attrs"))
    shared = (inv.select(F.explode("attrs").alias("lhs"), "attrs")
              .select("lhs", F.explode("attrs").alias("rhs"))
              .where(F.col("lhs") != F.col("rhs"))
              .groupBy("lhs", "rhs")
              .agg(F.count(F.lit(1)).cast("long")
                   .alias("n_shared_values")))
    n_attr = (av.groupBy(F.col("attr").alias("lhs"))
              .agg(F.count(F.lit(1)).cast("long")
                   .alias("n_lhs_values")))
    cand = spark.createDataFrame(
        [(x, y) for x in cols for y in cols if x != y],
        "lhs string, rhs string")
    return (cand.join(F.broadcast(n_attr), "lhs")
            .join(F.broadcast(shared), ["lhs", "rhs"], "left")
            .select("lhs", "rhs", "n_lhs_values",
                    F.coalesce("n_shared_values", F.lit(0))
                    .cast("long").alias("n_shared_values"),
                    (F.coalesce("n_shared_values", F.lit(0))
                     == F.col("n_lhs_values")).alias("holds")))


MICRODATA_SCHEMA = ("url string, item_id string, pred string, "
                    "obj string")


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _microdata_value(el):
    # HTML5 microdata value rules (§5.2.4), the subset WDC-style
    # extractors implement
    if el.tag == "meta":
        return el.attrs.get("content", "")
    if el.tag in ("a", "link", "area"):
        return el.attrs.get("href", "")
    if el.tag in ("img", "audio", "video", "embed", "iframe", "source"):
        return el.attrs.get("src", "")
    if el.tag == "time":
        return el.attrs.get("datetime") or node_text(el)
    if el.tag == "data":
        return el.attrs.get("value") or node_text(el)
    return node_text(el)


def _vocab_iri(itemtype, name):
    # relative names resolve against the itemtype's vocabulary
    # (itemtype minus its last path segment) — schema.org/Article +
    # "headline" -> schema.org/headline, matching what WDC emits
    if "://" in name or name.startswith("urn:"):
        return name
    if itemtype and "/" in itemtype:
        return itemtype.rsplit("/", 1)[0] + "/" + name
    return "urn:prop:" + name


def _microdata_row(url, raw):
    rows = []
    counter = [0]

    def walk_item(el, itemtype):
        """el carries itemscope: mint an id, emit its type and
        properties; returns the item id."""
        item_id = "%s#item%d" % (url, counter[0])
        counter[0] += 1
        if itemtype:
            rows.append((url, item_id, _RDF_TYPE, itemtype))

        def scan(n):
            if isinstance(n, str):
                return
            prop = n.attrs.get("itemprop")
            nested = "itemscope" in n.attrs
            if prop is not None:
                if nested:
                    obj = walk_item(n, n.attrs.get("itemtype"))
                else:
                    obj = _microdata_value(n)
                for name in prop.split():
                    rows.append((url, item_id, _vocab_iri(itemtype, name),
                                 obj))
                if nested:
                    return      # nested item scanned already
            elif nested:
                # an itemscope without itemprop starts a NEW top-level
                # item, handled by the outer scan
                return
            for c in n.children:
                scan(c)

        for c in el.children:
            scan(c)
        return item_id

    def find_top(n):
        if isinstance(n, str):
            return
        if "itemscope" in n.attrs and "itemprop" not in n.attrs:
            walk_item(n, n.attrs.get("itemtype"))
            return
        for c in n.children:
            find_top(c)

    find_top(parse_html(decode_html(raw)))
    return rows


def microdata_triples(pages: DataFrame) -> DataFrame:
    """HTML5 microdata extraction (itemscope / itemtype / itemprop ->
    triples) — the Web Data Commons pipeline's main structured-data
    source on Common Crawl (Meusel et al. 2014): most schema.org
    markup in the wild ships as microdata attributes, not JSON-LD.

    Items are skolemized as ``url#itemN`` in document order (stable
    across shards/re-runs: the counter restarts per page, so ids
    depend only on page content); nested itemscope values become
    item-valued properties pointing at the nested item's id;
    property names resolve against the itemtype IRI per the
    schema.org convention.  Value extraction follows the HTML5
    §5.2.4 element rules (meta@content, a@href, img@src,
    time@datetime, else text).

    Scale shape: one :func:`map_rows` pass over (url, html) — same
    contract as the table/extract stages: one pass per page, page
    bytes dropped at the stage boundary, no shuffle."""
    return map_rows(pages.select("url", "html"), _microdata_row,
                    MICRODATA_SCHEMA)


ALTERNATES_SCHEMA = "url string, hreflang string, href string"


def _alternate_row(url, raw):
    rows = []

    def scan(n):
        if isinstance(n, str):
            return
        if (n.tag == "link"
                and "alternate" in (n.attrs.get("rel") or "").split()
                and n.attrs.get("hreflang") and n.attrs.get("href")):
            rows.append((url, n.attrs["hreflang"], n.attrs["href"]))
        for c in n.children:
            scan(c)

    scan(parse_html(decode_html(raw)))
    return rows


def hreflang_alternates(pages: DataFrame) -> DataFrame:
    """``<link rel="alternate" hreflang=... href=...>`` extraction —
    the AUTHORITATIVE bitext signal on the web (pages declare their
    own translations; CCAligned seeds from exactly these before
    falling back to URL-pattern matching, see
    ``linking.bitext_candidates``).  Real DOM parse, Arrow-batched,
    no shuffle; returns (url, hreflang, href), one row per declared
    alternate."""
    return map_rows(pages.select("url", "html"), _alternate_row,
                    ALTERNATES_SCHEMA)


ISO_DATE_RE = (r"\b((?:19|20)\d{2}-(?:0[1-9]|1[0-2])"
               r"-(?:0[1-9]|[12][0-9]|3[01]))\b")


def publication_dates(docs: DataFrame, text_col: str = "text",
                      id_col: str = "url") -> DataFrame:
    """Document dating from in-content ISO dates — the metadata-
    recovery step corpus pipelines run when the crawl lacks reliable
    Last-Modified headers (trafilatura/htmldate's content heuristic,
    restricted to the unambiguous ISO-8601 form): every
    ``YYYY-MM-DD`` token in the text, with the EARLIEST read as the
    publication date (first-publish beats update stamps) and the
    latest kept as the update bound.

    Pure whole-stage-codegen column expressions
    (``regexp_extract_all`` + array min/max/size) — no UDF, no
    shuffle; dates stay strings end-to-end (ISO order = lexicographic
    order, and no engine-specific date widening).  Returns
    (id, n_dates, pub_date, last_date) with NULLs when no date
    appears."""
    arr = F.expr(
        "regexp_extract_all(%s, r'%s', 1)" % (text_col, ISO_DATE_RE))
    return docs.select(
        F.col(id_col),
        F.size(arr).cast("long").alias("n_dates"),
        F.array_min(arr).alias("pub_date"),
        F.array_max(arr).alias("last_date"))


# ReVerb-lite surface relation inventory: finite verb-phrase
# alternation (longest alternative first — Java regex alternation is
# leftmost-first, not longest-match).
REVERB_RELATIONS = ("was founded by", "was acquired by",
                    "is located in", "works at", "is a")

_REVERB_ENT = r"[A-Z][A-Za-z0-9]*(?: [A-Z][A-Za-z0-9]*)*"


def reverb_triples(docs: DataFrame, text_col: str = "text",
                   id_col: str = "url") -> DataFrame:
    """Open information extraction, ReVerb-lite (Fader et al.,
    EMNLP 2011 reduced to a closed verb-phrase inventory): surface
    triples ``(subj_text, rel, obj_text)`` wherever a capitalized
    entity span, one of :data:`REVERB_RELATIONS`, and a second
    entity span meet in the running text.  This is the *recall*
    layer of KG construction — candidate facts mined from prose —
    that feeds the same fuzzy-linking + canonicalization +
    fact-fusion stages the structured extractors feed
    (cf. the reference's citation/legalref recognizers, which mine
    typed mentions; here the relation itself is mined too).

    Pure whole-stage codegen: THREE ``regexp_extract_all`` passes
    over the same pattern (one per capture group — Spark extracts
    one group per call; the match walk is identical so index i of
    each array is the same match), ``arrays_zip`` + one explode.
    No UDF, no shuffle; a 100 TB corpus maps straight through.

    Returns (id, pos, subj_text, rel, obj_text), ``pos`` = 0-based
    match index within the document.
    """
    pat = ("(%s) (%s) (%s)"
           % (_REVERB_ENT, "|".join(REVERB_RELATIONS), _REVERB_ENT))
    grp = lambda i: F.expr(
        "regexp_extract_all(%s, r'%s', %d)" % (text_col, pat, i))
    z = F.arrays_zip(grp(1).alias("s"), grp(2).alias("r"),
                     grp(3).alias("o"))
    return (docs.select(F.col(id_col),
                        F.posexplode(z).alias("pos", "m"))
            .select(id_col, F.col("pos").cast("long").alias("pos"),
                    F.col("m.s").alias("subj_text"),
                    F.col("m.r").alias("rel"),
                    F.col("m.o").alias("obj_text")))


SOCIAL_META_SCHEMA = ("url string, ns string, prop string, "
                      "content string, pos int")

_SOCIAL_PREFIXES = {"og:": "og", "twitter:": "twitter",
                    "article:": "og", "fb:": "og"}


def _social_meta_row(url, raw):
    rows = []

    def scan(n):
        if isinstance(n, str):
            return
        if n.tag == "meta":
            # OG spec says property=, Twitter says name=, and the wild
            # web uses both interchangeably -- accept whichever
            # attribute carries a known prefix (property= wins when
            # both are present).
            key = None
            for attr in ("property", "name"):
                v = n.attrs.get(attr)
                if v:
                    for pfx in _SOCIAL_PREFIXES:
                        if v.startswith(pfx):
                            key = v
                            break
                if key:
                    break
            content = n.attrs.get("content")
            if key and content is not None:
                ns = next(v for k, v in _SOCIAL_PREFIXES.items()
                          if key.startswith(k))
                rows.append((url, ns, key, content, len(rows)))
        for c in n.children:
            scan(c)

    scan(parse_html(decode_html(raw)))
    return rows


def social_meta_tags(pages: DataFrame) -> DataFrame:
    """OpenGraph / Twitter-card ``<meta>`` extraction through the
    real DOM parser -- the page-declared title/description/image
    metadata that web-scale corpus pipelines prefer over content
    heuristics (it is the page author's own summary, and the Common
    Crawl WAT records carry exactly these fields).

    Emits one row per ``og:*`` / ``article:`` / ``fb:`` /
    ``twitter:*`` meta tag in document order: (url, ns, prop,
    content, pos), ``ns`` in {og, twitter}, ``pos`` = 0-based index
    among emitted tags so downstream precedence can implement the OG
    first-tag-wins rule.  Tags are matched on either ``property=``
    (the OG spec) or ``name=`` (the Twitter spec and much of the
    wild web); non-social metas (viewport, description, robots) are
    ignored here -- they have their own extractors.

    Scale shape: one :func:`map_rows` pass over (url, html),
    one pass per page, page bytes dropped at the stage boundary,
    no shuffle."""
    return map_rows(pages.select("url", "html"), _social_meta_row,
                    SOCIAL_META_SCHEMA)


#: prop -> card field; og and twitter both feed the same field and
#: og wins (Facebook's crawler is the de-facto authority; Twitter
#: itself falls back to og:* when twitter:* is absent).
CARD_FIELDS = {
    "og:title": "title", "twitter:title": "title",
    "og:description": "description",
    "twitter:description": "description",
    "og:image": "image", "twitter:image": "image",
    "og:type": "type", "twitter:card": "card",
    "og:url": "canonical", "og:site_name": "site_name",
}


def resolve_page_cards(tags: DataFrame) -> DataFrame:
    """Effective per-page social card from raw :func:`social_meta_tags`
    rows: for each card field (title/description/image/...) pick the
    winning tag under the published precedence -- ``og:`` namespace
    beats ``twitter:``, and within a namespace the FIRST occurrence
    wins (the OG spec's repeated-property rule: later tags are
    array-extras, not overrides).

    Pure DataFrame: a broadcast-sized literal map assigns fields, a
    single groupBy(url, field) with ``min(struct(prio, pos,
    content))`` picks the winner -- one shuffle on (url, field),
    map-side partial min, no window over the full tag set.  Returns
    (url, field, content, src_ns)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in CARD_FIELDS.items() for x in kv])
    prio = F.when(F.col("ns") == "og", 0).otherwise(1)
    fielded = (tags
               .withColumn("field", mapping[F.col("prop")])
               .where(F.col("field").isNotNull()))
    pick = (fielded
            .groupBy("url", "field")
            .agg(F.min(F.struct(prio.alias("prio"),
                                F.col("pos").alias("pos"),
                                F.col("content").alias("content"),
                                F.col("ns").alias("ns")))
                 .alias("w")))
    return pick.select("url", "field",
                       F.col("w.content").alias("content"),
                       F.col("w.ns").alias("src_ns"))


_MONTHS = ("january", "february", "march", "april", "may", "june",
           "july", "august", "september", "october", "november",
           "december")
_MONTH_RE = "|".join(m[:3] + "(?:" + m[3:] + ")?" if len(m) > 3 else m
                     for m in _MONTHS)


def date_normalize(docs: DataFrame, text_col: str = "text",
                   id_col: str = "url") -> DataFrame:
    """Normalize textual date mentions to ISO — the htmldate/
    trafilatura content-dating step widened beyond
    :func:`publication_dates`'s ISO-only scan to the two dominant
    English prose forms: month-name-first ("January 5, 2020" /
    "Jan 5, 2020") and day-first ("5 January 2020" / "5 Jan 2020"),
    full or 3-letter month names, case-insensitive.

    Engineering shape: one ``regexp_extract_all`` pass per capture
    group per form (Spark extracts a single group per call; the
    match walk is identical, so index i across the arrays is the
    same match — the reverb_triples trick), ``arrays_zip`` +
    explode, then month-name -> number via a chained ``element_at``
    over a literal map and zero-padding with ``lpad``.  All
    whole-stage-codegen expressions, no UDF, no shuffle; invalid
    day-of-month values (32nd) simply never match the day pattern
    (1-31 enforced by the regex).

    Returns (id, pos, mention, iso_date, form) — ``pos`` is the
    0-based mention index within its form's match sequence, ``form``
    is 'mdy' or 'dmy'.
    """
    day = r"(0?[1-9]|[12][0-9]|3[01])"
    year = r"((?:19|20)[0-9]{2})"
    mon = "(" + _MONTH_RE + ")"
    mdy = r"\b%s %s, %s\b" % (mon, day, year)
    dmy = r"\b%s %s %s\b" % (day, mon, year)
    m_map = F.create_map(*[
        x for i, m in enumerate(_MONTHS)
        for x in (F.lit(m[:3]), F.lit("%02d" % (i + 1)))])

    def _mentions(pat, form, g_mon, g_day, g_year):
        g = lambda i: F.expr(  # noqa: E731
            "regexp_extract_all(lower(%s), r'%s', %d)"
            % (text_col, pat, i))
        z = F.arrays_zip(g(0).alias("m0"), g(g_mon).alias("mon"),
                         g(g_day).alias("day"), g(g_year).alias("yr"))
        return (docs.select(F.col(id_col),
                            F.posexplode(z).alias("pos", "x"))
                .select(
                    id_col, F.col("pos").cast("long").alias("pos"),
                    F.col("x.m0").alias("mention"),
                    F.concat(
                        F.col("x.yr"), F.lit("-"),
                        F.element_at(
                            m_map, F.substring(F.col("x.mon"), 1, 3)),
                        F.lit("-"),
                        F.lpad(F.col("x.day"), 2, "0"))
                    .alias("iso_date"),
                    F.lit(form).alias("form")))

    return (_mentions(mdy, "mdy", 1, 2, 3)
            .unionByName(_mentions(dmy, "dmy", 2, 1, 3)))


def heading_outline(pages: DataFrame, html_col: str = "html",
                    id_col: str = "url") -> DataFrame:
    """Document outline from h1-h6 headings: each heading's parent
    is the NEAREST PRECEDING heading of strictly smaller level (the
    HTML5 outline algorithm's core rule) — turning flat web markup
    into the section hierarchy KG construction needs for
    part-of/section triples when no explicit sectioning elements
    exist (the reference builds the same tree from FSM-parsed text;
    this is the markup-native path).

    Shape: heading extraction is the multi-group
    ``regexp_extract_all`` + ``arrays_zip`` + posexplode pattern
    (map-only); parent resolution is a per-document self-join
    (j.pos < i.pos AND j.level < i.level -> max j) — O(k^2) in the
    number of HEADINGS per page (k is tens, never the corpus), all
    keyed on the page id so it shuffles once and never crosses
    documents.

    Returns (id, pos, level, title, parent_pos); parent_pos is NULL
    for top-level headings, pos is the 0-based heading index in
    document order.
    """
    # (?i) rather than lower(html): titles keep their original case
    pat = r"(?i)<h([1-6])[^>]*>([^<]*)</h[1-6]>"
    g = lambda i: F.expr(  # noqa: E731
        "regexp_extract_all(%s, r'%s', %d)" % (html_col, pat, i))
    z = F.arrays_zip(g(1).alias("lv"), g(2).alias("ti"))
    h = (pages.select(F.col(id_col), F.posexplode(z).alias("pos", "x"))
         .select(id_col, F.col("pos").cast("long").alias("pos"),
                 F.col("x.lv").cast("long").alias("level"),
                 F.trim(F.col("x.ti")).alias("title")))
    child = h.select(F.col(id_col), F.col("pos"), F.col("level"),
                     F.col("title"))
    cand = h.select(F.col(id_col), F.col("pos").alias("_jpos"),
                    F.col("level").alias("_jlevel"))
    parent = (child.join(cand, id_col, "left")
              .where(F.col("_jpos").isNull()
                     | ((F.col("_jpos") < F.col("pos"))
                        & (F.col("_jlevel") < F.col("level"))))
              .groupBy(id_col, "pos", "level", "title")
              .agg(F.max("_jpos").alias("parent_pos")))
    # the filtering join drops headings with no qualifying parent
    # row entirely -- restore them with a left join on the spine
    return (child.join(parent.select(id_col, "pos", "parent_pos"),
                       [id_col, "pos"], "left")
            .select(id_col, "pos", "level", "title", "parent_pos"))


def breadcrumb_trails(pages: DataFrame, html_col: str = "html",
                      id_col: str = "url") -> DataFrame:
    """Breadcrumb-trail extraction from nav markup: the
    site-hierarchy signal search engines mine for sitelinks and KG
    construction mines for broader-than/part-of edges (schema.org
    BreadcrumbList is the structured twin; this reads the dominant
    unstructured form — an anchor sequence inside a breadcrumb nav).

    Two regex passes: isolate the first
    ``<nav class="...breadcrumb...">...</nav>`` block per page, then
    the multi-group ``regexp_extract_all`` + ``arrays_zip`` +
    posexplode walk over its anchors (href, label) — map-only, no
    UDF.  ``pos`` is the 0-based trail position; ``parent_href`` is
    the preceding anchor's href (NULL at the root), giving the edge
    list a hierarchy rollup groupBys directly.

    Returns (id, pos, href, label, parent_href).
    """
    nav = F.regexp_extract(
        F.col(html_col),
        r'(?is)<nav[^>]*class="[^"]*breadcrumb[^"]*"[^>]*>(.*?)</nav>',
        1)
    apat = r'(?i)<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
    g = lambda i: F.expr(  # noqa: E731
        "regexp_extract_all(_nav, r'%s', %d)" % (apat, i))
    z = F.arrays_zip(g(1).alias("h"), g(2).alias("t"))
    ex = (pages.select(F.col(id_col), nav.alias("_nav"))
          .where(F.length("_nav") > 0)
          .select(F.col(id_col), F.posexplode(z).alias("pos", "x"))
          .select(id_col, F.col("pos").cast("long").alias("pos"),
                  F.col("x.h").alias("href"),
                  F.trim(F.col("x.t")).alias("label")))
    from pyspark.sql import Window
    w = (Window.partitionBy(id_col).orderBy("pos"))
    return ex.withColumn("parent_href", F.lag("href").over(w))
