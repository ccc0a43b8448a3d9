"""Structured-extraction ``kg_*`` queries over ``operators.extract``, and
the document-format readers (PDF, Word, wikitext, WARC, tech repos)."""

from pyspark.sql import Window, functions as F

from ferenda_spark import vocab
from ferenda_spark.operators.extract import (REVERB_RELATIONS, _REVERB_ENT,
                                             breadcrumb_trails, fd_discovery,
                                             heading_outline, hearst_pairs,
                                             hreflang_alternates,
                                             html_table_cells, inclusion_deps,
                                             jsonld_triples, legal_mentions,
                                             mention_contexts,
                                             microdata_triples,
                                             publication_dates,
                                             quote_attribution,
                                             resolve_page_cards,
                                             reverb_triples, schema_match,
                                             social_meta_tags,
                                             table_column_types)
from ferenda_spark.operators.linking import entity_salience
from ferenda_spark.operators.tech import ecma_standards, pep_triples
from ferenda_spark.pdfpages import pdf_textboxes
from ferenda_spark.pdftext import (pdf_blobs_to_lines, synth_pdf_blobs,
                                   synth_pdf_section_blobs)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _read
from ferenda_spark.warc import pages_from_warc, warc_records
from ferenda_spark.wikitext import wiki_pages, wiki_render
from ferenda_spark.wordreader import (extract_word_blobs, synth_doc_blobs,
                                      synth_docx_blobs)


def _legal_docs(spark, sf_dir):
    """The planted legal-citation corpus shared by kg_legal_mentions
    and kg_mention_contexts (fixed-width numbers -> constant
    offsets)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    text = F.format_string(
        "Se %d § delgivningslagen (1970:428) och NJA %d s. %d "
        "samt prop. 1997/98:%d i ärendet.",
        F.lit(10) + did % 12, F.lit(1990) + did % 10,
        F.lit(10) + did % 90, F.lit(100) + did % 100)
    return d.select(
        F.concat(F.lit("https://example.org/legal/"),
                 did.cast("string")).alias("url"),
        text.alias("text"))


def _infobox_pages(spark, sf_dir):
    """Planted infobox pages: one 4-row key/value <table> per doc,
    every cell a closed-form function of doc_id (the DBpedia-style
    structured-data source)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    year = F.date_format(
        F.expr("date_add(DATE'2020-01-01', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy")
    html = F.concat(
        F.lit("<html><body><h1>Infobox</h1><table>"
              "<tr><th>Publisher</th><td>Publisher "),
        did % 7,
        F.lit("</td></tr><tr><th>Subject</th><td>topic"),
        did % 11,
        F.lit("</td></tr><tr><th>Year</th><td>"), year,
        F.lit("</td></tr><tr><th>Entity</th><td>Entity "),
        did % 50,
        F.lit("</td></tr></table></body></html>"))
    return d.select(
        F.concat(F.lit("https://example.org/infobox/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))


def _social_pages(spark, sf_dir):
    """Planted social-meta corpus: every page carries a duplicated
    og:title (the second must LOSE under first-tag-wins), a twitter
    title/card, og:type, a twitter:image, an og:image on every 3rd
    doc (og must then beat twitter for the image field), a
    twitter:description on every 2nd doc (fields may be absent),
    and viewport/description noise metas that must NOT extract."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><head>'
              '<meta name="viewport" content="width=device-width"/>'
              '<meta property="og:title" content="OG Document '),
        did,
        F.lit('"/><meta property="og:title" content="Extra '),
        did % 7,
        F.lit('"/><meta name="twitter:title" content="TW Document '),
        did,
        F.lit('"/><meta name="twitter:card" content="summary"/>'
              '<meta property="og:type" content="article"/>'),
        F.when(did % 3 == 0, F.concat(
            F.lit('<meta property="og:image" '
                  'content="https://img.example.org/og/'),
            did, F.lit('.png"/>'))).otherwise(F.lit("")),
        F.lit('<meta name="twitter:image" '
              'content="https://img.example.org/tw/'),
        did,
        F.lit('.png"/>'),
        F.when(did % 2 == 0, F.concat(
            F.lit('<meta name="twitter:description" content="Doc '),
            did, F.lit(' summary"/>'))).otherwise(F.lit("")),
        F.lit('<meta name="description" content="plain"/>'
              "</head><body>x</body></html>"))
    return d.select(
        F.concat(F.lit("https://example.org/social/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))


# planted infobox cells (mirrors _infobox_pages: one 4-row k/v table
# per doc; the Spark side recovers these by walking the real DOM)
_INFOBOX_CTE = """
            WITH cells AS (
              SELECT 'https://example.org/infobox/' || doc_id AS url,
                     r.row_idx, c.col_idx,
                     CASE
                       WHEN c.col_idx = 0 THEN
                         CASE r.row_idx WHEN 0 THEN 'Publisher'
                              WHEN 1 THEN 'Subject'
                              WHEN 2 THEN 'Year'
                              ELSE 'Entity' END
                       ELSE
                         CASE r.row_idx
                              WHEN 0 THEN 'Publisher ' || (doc_id % 7)
                              WHEN 1 THEN 'topic' || (doc_id % 11)
                              WHEN 2 THEN strftime(DATE '2020-01-01'
                                + INTERVAL ((doc_id * 37) % 1461) DAY,
                                '%Y')
                              ELSE 'Entity ' || (doc_id % 50) END
                     END AS cell
              FROM documents,
                   (SELECT CAST(unnest(generate_series(0, 3)) AS INT)
                      AS row_idx) r,
                   (SELECT CAST(unnest(generate_series(0, 1)) AS INT)
                      AS col_idx) c)
"""


def _reverb_pattern() -> str:
    """The exact regex the operator runs (built from the same module
    constants, so the oracle can never drift from the code)."""
    return "(%s) (%s) (%s)" % (_REVERB_ENT,
                               "|".join(REVERB_RELATIONS), _REVERB_ENT)


@query("wiki_links", oracle="""
    SELECT doc_id, 'Doc ' || doc_id AS title,
           'Src ' || source AS category,
           'Entity ' || (doc_id % 50) AS target
    FROM documents
    UNION ALL
    SELECT doc_id, 'Doc ' || doc_id, 'Src ' || source,
           'Topic ' || (doc_id % 11)
    FROM documents""")
def _q_wiki_links(spark, sf_dir):
    """S8 wiki branch end-to-end through Spark: deterministic
    per-document MediaWiki export XML -> the real wiki_pages
    map_rows stage (dump parse, template strip, category + link
    extraction) -> exploded link rows; the oracle recomputes the
    closed-form expectation in SQL."""
    docs = _read(spark, sf_dir, "documents")
    xml = F.concat(
        F.lit("<page><title>Doc "), "doc_id",
        F.lit("</title><id>"), "doc_id",
        F.lit("</id><revision><timestamp>2020-01-01T00:00:00Z"
              "</timestamp><text>links [[Entity "),
        F.col("doc_id") % 50,
        F.lit("]] and [[Topic "), F.col("doc_id") % 11,
        F.lit("|topic]].{{Tmpl|x}} [[Kategori:Src "), "source",
        F.lit("]]</text></revision></page>"))
    pages = (docs.select(F.col("doc_id").cast("string").alias("url"),
                         xml.alias("xml")))
    out = wiki_pages(pages)
    return (out.select(F.col("url").cast("long").alias("doc_id"),
                       "title",
                       F.element_at("categories", 1).alias("category"),
                       F.explode("links").alias("target")))


# closed form of the synthetic pdf2xml layout: 1+d%2 pages x
# 2 boxes ("Heading {d}" = 8+len(d) chars, "Body text doc {d}
# page {p}" = 21+len(d) chars); every 23rd doc is malformed ->
# quarantined -> absent
@query("pdf_textbox_stats", oracle="""
    SELECT 'https://example.org/pdf/' || doc_id AS url,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_pages,
           CAST(2 * (1 + doc_id % 2) AS BIGINT) AS n_boxes,
           CAST(2 AS BIGINT) AS n_fonts,
           CAST(12 + doc_id % 3 AS INT) AS max_font_size,
           CAST((1 + doc_id % 2)
                * (29 + 2 * length(CAST(doc_id AS VARCHAR)))
                AS BIGINT) AS text_chars
    FROM documents WHERE doc_id % 23 <> 0""")
def _q_pdf_textbox_stats(spark, sf_dir):
    """S8 PDF branch driver query: a closed-form pdf2xml column (JVM
    concat, no UDF) through the pdf_textboxes map_rows stage
    (pdfpages.py — pdfreader._parse_xml semantics), then per-document
    layout stats.  Every 23rd document carries malformed XML and is
    quarantined by the stage (I4), so it is absent from the output."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    fsize = (F.lit(12) + did % 3).cast("string")

    def page(p):
        return F.concat(
            F.lit('<page number="%d" width="892" height="1263">' % p),
            F.lit('<fontspec id="0" size="'), fsize,
            F.lit('" family="Times" color="#000000"/>'
                  '<fontspec id="1" size="9" family="Helvetica" '
                  'color="#000000"/>'
                  '<text top="50" left="85" width="300" height="20" '
                  'font="0">Heading '),
            did.cast("string"), F.lit('</text><text top="'),
            (F.lit(100) + (did % 7) * 10).cast("string"),
            F.lit('" left="85" width="400" height="15" font="1">'
                  'Body text <b>doc '),
            did.cast("string"),
            F.lit('</b> page %d</text></page>' % p))

    xml = F.when(did % 23 == 0, F.lit("<pdf2xml><unclosed")).otherwise(
        F.concat(F.lit("<pdf2xml>"), page(1),
                 F.when(did % 2 == 1, page(2)).otherwise(F.lit("")),
                 F.lit("</pdf2xml>")))
    docs = d.select(
        F.concat(F.lit("https://example.org/pdf/"),
                 did.cast("string")).alias("url"),
        xml.alias("xml"))
    boxes = pdf_textboxes(docs)
    return (boxes.where(F.col("error").isNull())
            .groupBy("url")
            .agg(F.countDistinct("page").alias("n_pages"),
                 F.count("*").alias("n_boxes"),
                 F.countDistinct("font_family").alias("n_fonts"),
                 F.max("font_size").alias("max_font_size"),
                 F.sum(F.length("text")).alias("text_chars")))


# mirrors _q_warc_pages: parse output is closed-form in doc_id
@query("warc_pages", oracle="""
    SELECT 'https://example.org/warc/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           TIMESTAMP '2024-01-01 00:00:00'
             + doc_id * INTERVAL 1 SECOND AS warc_ts,
           text AS page_text,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents""")
def _q_warc_pages(spark, sf_dir):
    """WARC ingestion (ferenda_spark/warc.py): WARC/1.0 response
    records are synthesized JVM-side (one record per doc, 8 records
    concatenated per archive file — the Common-Crawl framing), parsed
    back through the real Arrow-batched record walker + HTTP splitter,
    and projected to the input-table shape.  Every header field is
    closed-form in doc_id so the oracle recomputes the parse output
    without touching bytes."""
    d = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/warc/doc/"),
                   d.cast("string"))
    ts = F.date_format(
        F.expr("timestamp'2024-01-01 00:00:00'"
               " + make_interval(0, 0, 0, 0, 0, 0, doc_id)"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
    payload = F.col("text").cast("binary")
    block = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
        .cast("binary"), payload)
    rec = F.concat(
        F.concat(F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
                       "WARC-Target-URI: "), url,
                 F.lit("\r\nWARC-Date: "), ts,
                 F.lit("\r\nContent-Length: "),
                 F.length(block).cast("string"),
                 F.lit("\r\n\r\n")).cast("binary"),
        block, F.lit("\r\n\r\n").cast("binary"))
    files = (_read(spark, sf_dir, "documents")
             .select((d % 8).alias("file_id"),
                     F.struct(d.alias("doc_id"), rec.alias("rec"))
                     .alias("r"))
             .groupBy("file_id")
             .agg(F.array_sort(F.collect_list("r")).alias("recs"))
             .select(F.concat(F.lit("part-"),
                              F.col("file_id").cast("string"))
                     .alias("path"),
                     F.aggregate("recs",
                                 F.lit(b""),
                                 lambda acc, x: F.concat(acc, x["rec"]))
                     .alias("content")))
    return (pages_from_warc(warc_records(files))
            .select("url", "warc_ts",
                    F.col("html").cast("string").alias("page_text"),
                    F.length("html").cast("long").alias("n_bytes")))


@query("word_docs", oracle="""
    SELECT 'https://example.org/word/' || doc_id AS url,
           CASE WHEN doc_id % 17 = 0 THEN 'doc'
                ELSE 'docx' END AS filetype,
           CASE WHEN doc_id % 34 = 0 THEN NULL
                ELSE 'Word doc ' || doc_id || chr(10)
                     || 'Paragraph ' || (doc_id % 7) END AS text,
           CASE WHEN doc_id % 34 = 0
                THEN 'unparseable word binary' END AS error
    FROM documents""")
def _q_word_docs(spark, sf_dir):
    """S8 Word branch driver query: deterministic docx blobs, real
    Word97 .doc binaries every 17th doc (native stdlib CFB +
    piece-table extraction, docbinary.py), and a truncated-OLE
    quarantine row every 34th, through the extract_word_blobs
    map_rows stage (reference wordreader.py:100-218)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    out = extract_word_blobs(synth_docx_blobs(d))
    return out.select("url", "filetype", "text", "error")


@query("word_docs_legacy", oracle="""
    SELECT 'https://example.org/word/' || doc_id AS url,
           'doc' AS filetype,
           'Word doc ' || doc_id || chr(10)
             || 'Paragraph ' || (doc_id % 7) AS text,
           CAST(NULL AS VARCHAR) AS error
    FROM documents""")
def _q_word_docs_legacy(spark, sf_dir):
    """S8 legacy .doc branch in isolation: EVERY row is a synthesized
    Word97 OLE2 binary, so the whole result flows through
    docbinary.cfb_streams (FAT/directory walk) + doc_text (FIB +
    piece-table decode) — the dedicated oracle row for the CFB
    reader (reference wordreader.py:73-100 shells to antiword;
    ours is a from-scratch [MS-CFB]/[MS-DOC] parser)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    out = extract_word_blobs(synth_doc_blobs(d))
    return out.select("url", "filetype", "text", "error")


# planted two-line PDF: y=720/700, size 12, zoom 1.5, with
# poppler-parity geometry (golden-proven in test_pdftext):
# top = xoutRound((792 - y)*1.5 - 0.718*18)  (Helvetica AFM
# ascent 0.718) -> 95 + 30*k; height = xoutRound(0.925*18) =
# 17; width = xoutRound(AFM_advance_units * 12/1000 * 1.5),
# 'Line one ' = 4114 units + 556/digit, 'Second d' = 4225
@query("pdf_extracted_lines", oracle="""
    SELECT 'https://example.org/pdfbin/' || doc_id AS url,
           CAST(1 AS INT) AS page, CAST(k AS INT) AS line,
           CAST(95 + 30 * k AS INT) AS top,
           CAST(108 AS INT) AS "left",
           CAST(CASE WHEN k = 0 THEN floor(
                    (4114 + 556 * length(CAST(doc_id AS VARCHAR)))
                    * 0.018 + 0.5)
                ELSE 76 END AS INT) AS width,
           CAST(17 AS INT) AS height,
           CAST(18 AS INT) AS size,
           'Helvetica' AS font,
           CASE WHEN k = 0 THEN 'Line one ' || doc_id
                ELSE 'Second ' || (doc_id % 9) END AS text
    FROM documents, (VALUES (0), (1)) AS lines(k)""")
def _q_pdf_extracted_lines(spark, sf_dir):
    """S8 PDF BINARY branch end-to-end: deterministic minimal PDFs per
    doc through the stdlib extraction kernel (pdftext — object parse,
    stream decode, content-stream text interpreter; goldens vs the
    reference's cached poppler intermediates in tests/test_pdftext.py)
    to positioned text lines."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    out = pdf_blobs_to_lines(synth_pdf_blobs(d))
    return out.select("url", "page", "line", "top", "left", "width",
                      "height", "size", "font", "text")


@query("pdf_section_triples", oracle="""
    WITH d AS (
      SELECT 'https://example.org/pdfdoc/' || doc_id AS url,
             doc_id, 1 + doc_id % 3 AS n FROM documents),
    s AS (
      SELECT url, doc_id,
             unnest(generate_series(1, n)) AS s FROM d)
    SELECT url AS subj, 'http://purl.org/dc/terms/title' AS pred,
           'Doc ' || doc_id AS obj FROM d
    UNION ALL
    SELECT url || '#S' || s, 'http://purl.org/dc/terms/title',
           'Section ' || s FROM s
    UNION ALL
    SELECT url || '#S' || s, 'http://purl.org/dc/terms/isPartOf',
           url FROM s""")
def _q_pdf_section_triples(spark, sf_dir):
    """S8+P+T chained end-to-end for PDF sources (the reference's
    fixed-layout path: pdfreader -> pdfanalyze font segmentation ->
    structure -> triples): binary PDFs through the stdlib kernel,
    lines classified by rendered font size (36 = title, 27 = section
    heading at 1.5 zoom), section numbers by reading order, then
    title/isPartOf triples minted JVM-side."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    lines = pdf_blobs_to_lines(synth_pdf_section_blobs(d))
    titles = (lines.where(F.col("size") == 36)
              .select(F.col("url").alias("subj"),
                      F.lit(vocab.DCTERMS_TITLE).alias("pred"),
                      F.col("text").alias("obj")))
    w = Window.partitionBy("url").orderBy("top")
    secs = (lines.where(F.col("size") == 27)
            .withColumn("s", F.row_number().over(w))
            .withColumn("sec_uri",
                        F.concat("url", F.lit("#S"),
                                 F.col("s").cast("string"))))
    sec_titles = secs.select(
        F.col("sec_uri").alias("subj"),
        F.lit(vocab.DCTERMS_TITLE).alias("pred"),
        F.col("text").alias("obj"))
    sec_partof = secs.select(
        F.col("sec_uri").alias("subj"),
        F.lit(vocab.DCTERMS_ISPARTOF).alias("pred"),
        F.col("url").alias("obj"))
    return titles.unionByName(sec_titles).unionByName(sec_partof)


@query("wiki_rendered", oracle="""
    SELECT 'https://example.org/wiki/' || doc_id AS url,
           CAST(1 AS INT) AS n_sections,
           'Topic' || (doc_id % 11) AS subjects_csv,
           '<div><p><i>Intro</i> om <a href="Entity '
             || (doc_id % 50) || '">Entity ' || (doc_id % 50)
             || '</a>. </p></div><h2>1 §</h2><div><p>Se '
             || '<b>regel ' || (doc_id % 7)
             || '</b>. </p></div>' AS body_html
    FROM documents""")
def _q_wiki_rendered(spark, sf_dir):
    """S8 wiki render branch: closed-form synthetic wikitext (italics,
    internal link, section heading, bold, category) through the
    wiki_render map_rows stage — markup -> XHTML body + section
    count + dcterms:subject names (wiki.py parse_document_from_soup +
    postprocess; fixture-level golden parity in
    tests/test_wikitext.py)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    wt = F.format_string(
        "''Intro'' om [[Entity %d]].\n\n== 1 § ==\n\n"
        "Se '''regel %d'''.\n\n[[Kategori:Topic%d]]",
        did % 50, did % 7, did % 11)
    docs = d.select(
        F.concat(F.lit("https://example.org/wiki/"),
                 did.cast("string")).alias("url"),
        wt.alias("wikitext"))
    out = wiki_render(docs)
    return out.select(
        "url", "n_sections",
        F.array_join("subjects", ",").alias("subjects_csv"),
        "body_html")


# the planted citations have fixed-width numbers, so every
# anchor spans constant offsets: sfs 3-35, caselaw 40-54,
# forarbeten 60-77
@query("kg_legal_mentions", oracle="""
    WITH lm AS (
      SELECT 'https://example.org/legal/' || doc_id AS url,
             10 + doc_id % 12 AS p, 1990 + doc_id % 10 AS y,
             10 + doc_id % 90 AS n, 100 + doc_id % 100 AS pn
      FROM documents)
    SELECT url, 'sfs' AS kind,
           CAST(3 AS INT) AS "start", CAST(35 AS INT) AS "end",
           p || ' § delgivningslagen (1970:428)' AS anchor,
           'https://lagen.nu/1970:428#P' || p AS target_uri
    FROM lm
    UNION ALL
    SELECT url, 'caselaw', 40, 54,
           'NJA ' || y || ' s. ' || n,
           'https://lagen.nu/dom/nja/' || y || 's' || n FROM lm
    UNION ALL
    SELECT url, 'forarbeten', 60, 77,
           'prop. 1997/98:' || pn,
           'https://lagen.nu/prop/1997/98:' || pn FROM lm""")
def _q_legal_mentions(spark, sf_dir):
    """T8 through Spark: closed-form planted legal references (one
    statute + one case-law + one preparatory-works citation per
    document, all numbers fixed-width functions of doc_id so anchors
    sit at constant offsets) through the legal_mentions Arrow stage —
    hash-exact vs the DuckDB oracle.  The reference's own fixture
    texts stay golden-asserted in tests/test_legalref_goldens.py."""
    return legal_mentions(_legal_docs(spark, sf_dir))


# planted constant offsets (see kg_legal_mentions): sfs 3-35,
# caselaw 40-54, forarbeten 60-77; window = +-20 chars
@query("kg_mention_contexts", oracle="""
    WITH lm AS (
      SELECT 'https://example.org/legal/' || doc_id AS url,
             10 + doc_id % 12 AS p, 1990 + doc_id % 10 AS y,
             10 + doc_id % 90 AS n, 100 + doc_id % 100 AS pn,
             'Se ' || (10 + doc_id % 12)
               || ' § delgivningslagen (1970:428) och NJA '
               || (1990 + doc_id % 10) || ' s. '
               || (10 + doc_id % 90) || ' samt prop. 1997/98:'
               || (100 + doc_id % 100) || ' i ärendet.' AS text
      FROM documents)
    SELECT url, 'sfs' AS kind,
           CAST(3 AS INT) AS "start", CAST(35 AS INT) AS "end",
           p || ' § delgivningslagen (1970:428)' AS anchor,
           substr(text, 1, 55) AS context
    FROM lm
    UNION ALL
    SELECT url, 'caselaw', 40, 54,
           'NJA ' || y || ' s. ' || n,
           substr(text, 21, 54) FROM lm
    UNION ALL
    SELECT url, 'forarbeten', 60, 77,
           'prop. 1997/98:' || pn,
           substr(text, 41, 57) FROM lm
    ORDER BY url, "start" """)
def _q_mention_contexts(spark, sf_dir):
    """KWIC evidence snippets (+-20 chars) around every planted legal
    mention — edge-level provenance for the extracted KG; the REAL
    scanner offsets drive the substring, the oracle recomputes the
    window closed-form from the constant planted offsets."""
    docs = _legal_docs(spark, sf_dir)
    return (mention_contexts(legal_mentions(docs), docs,
                             before=20, after=20)
            .orderBy("url", "start"))


# planted infobox cells closed-form (Spark walks the real DOM)
@query("kg_html_tables", oracle=_INFOBOX_CTE + """
    SELECT url, CAST(0 AS INT) AS table_idx, row_idx, col_idx,
           cell
    FROM cells ORDER BY url, table_idx, row_idx, col_idx""")
def _q_html_tables(spark, sf_dir):
    """HTML <table> extraction through the REAL DOM parser (same
    parser as the extract stage; th+td, nested-table-safe): one row
    per cell — the raw material of infobox mining."""
    return (html_table_cells(_infobox_pages(spark, sf_dir))
            .orderBy("url", "table_idx", "row_idx", "col_idx"))


@query("kg_infobox_triples", oracle=_INFOBOX_CTE + """
    SELECT k.url AS subj, 'urn:prop:' || lower(k.cell) AS pred,
           v.cell AS obj
    FROM cells k JOIN cells v
      ON k.url = v.url AND k.row_idx = v.row_idx
     AND k.col_idx = 0 AND v.col_idx = 1
    ORDER BY subj, pred""")
def _q_infobox_triples(spark, sf_dir):
    """Infobox mining: key/value table rows -> (doc, urn:prop:key,
    value) triples — the DBpedia extraction pattern.  Pivot = one
    groupBy per (url, table, row); key URIs lowercased."""
    cells = html_table_cells(_infobox_pages(spark, sf_dir))
    return (cells
            .groupBy("url", "table_idx", "row_idx")
            .agg(F.max(F.when(F.col("col_idx") == 0, F.col("cell")))
                 .alias("key"),
                 F.max(F.when(F.col("col_idx") == 1, F.col("cell")))
                 .alias("value"))
            .where(F.col("key").isNotNull() & F.col("value").isNotNull())
            .select(F.col("url").alias("subj"),
                    F.concat(F.lit("urn:prop:"), F.lower("key"))
                    .alias("pred"),
                    F.col("value").alias("obj"))
            .orderBy("subj", "pred"))


# closed-form mirror of the planted JSON-LD blocks
@query("kg_jsonld_triples", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/ld/' || doc_id AS url,
             'urn:doc:' || doc_id AS subj
      FROM documents)
    SELECT url, subj,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
             AS pred,
           CASE WHEN doc_id % 3 = 0 THEN 'Article'
                ELSE 'Dataset' END AS obj
    FROM d
    UNION ALL
    SELECT url, subj, 'urn:schema:name',
           'Document ' || doc_id FROM d
    UNION ALL
    SELECT url, subj, 'urn:schema:wordCount',
           CAST(doc_id % 997 AS VARCHAR) FROM d
    ORDER BY url, pred""")
def _q_jsonld_triples(spark, sf_dir):
    """schema.org JSON-LD extraction: planted ld+json script blocks
    (closed-form @id/@type/name/wordCount per doc_id) parsed back out
    of the page bytes by the real regexp+from_json pipeline."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    jtype = F.when(did % 3 == 0, "Article").otherwise("Dataset")
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@id": "urn:doc:'), did.cast("string"),
        F.lit('", "@type": "'), jtype,
        F.lit('", "name": "Document '), did.cast("string"),
        F.lit('", "wordCount": "'), (did % 997).cast("string"),
        F.lit('"}</script></head><body></body></html>'))
    pages = d.select(
        F.concat(F.lit("https://example.org/ld/"), did.cast("string"))
        .alias("url"), html.alias("html"))
    return jsonld_triples(pages).orderBy("url", "pred")


# closed-form mirror of the planted Hearst sentences
@query("kg_hearst_pairs", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/hearst/' || doc_id AS url
      FROM documents),
    i AS (SELECT url, doc_id, unnest([0, 1, 2]) AS k FROM d)
    SELECT url, 'topics' AS hypernym,
           'topic' || ((doc_id + k) % 5) AS hyponym
    FROM i ORDER BY url, hyponym""")
def _q_hearst_pairs(spark, sf_dir):
    """Hearst-pattern taxonomy mining: planted 'Topics such as a, b
    and c' sentences; the operator recovers each (hypernym, hyponym)
    pair by real regex extraction over the text."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    def _t(k):
        return F.concat(F.lit("topic"), ((did + k) % 5).cast("string"))
    text = F.concat(F.lit("This page covers Topics such as "),
                    _t(0), F.lit(", "), _t(1), F.lit(" and "), _t(2),
                    F.lit(" in depth."))
    docs = d.select(
        F.concat(F.lit("https://example.org/hearst/"),
                 did.cast("string")).alias("url"), text.alias("text"))
    return hearst_pairs(docs).orderBy("url", "hyponym")


# closed-form mirror of the planted quote frames
@query("kg_quote_attribution", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/quote/' || doc_id AS url,
             CASE WHEN doc_id % 2 = 0 THEN 'Alice Smith'
                  ELSE 'Bob Jones' END AS s1
      FROM documents)
    SELECT url, s1 AS speaker,
           'Case ' || (doc_id % 9) || ' holds' AS quote
    FROM d
    UNION ALL
    SELECT url, 'Carol Diaz',
           'point ' || ((doc_id + 4) % 9) || ' fails'
    FROM d
    ORDER BY url, quote""")
def _q_quote_attribution(spark, sf_dir):
    """Quote-speaker attribution: two planted '\"...,\" said First
    Last' frames per doc, speakers alternating by doc parity."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s1 = F.when(did % 2 == 0, "Alice Smith").otherwise("Bob Jones")
    text = F.concat(
        F.lit('He said nothing. "Case '), (did % 9).cast("string"),
        F.lit(' holds," said '), s1,
        F.lit('. Later, "point '), ((did + 4) % 9).cast("string"),
        F.lit(' fails," said Carol Diaz. The end.'))
    docs = d.select(
        F.concat(F.lit("https://example.org/quote/"),
                 did.cast("string")).alias("url"), text.alias("text"))
    return quote_attribution(docs).orderBy("url", "quote")


# majority type per planted column; the n/a cell never wins
@query("kg_table_column_types", oracle="""
    WITH c AS (SELECT unnest([0, 1, 2, 3]) AS col_idx)
    SELECT 'https://example.org/dtable/' || doc_id AS url,
           0 AS table_idx, col_idx,
           CASE col_idx WHEN 0 THEN 'date' WHEN 1 THEN 'int'
                WHEN 2 THEN 'url' ELSE 'text' END AS col_type,
           CAST(3 AS BIGINT) AS n_cells
    FROM documents, c ORDER BY url, col_idx""")
def _q_table_column_types(spark, sf_dir):
    """Column typing through the REAL DOM parser: a planted 3-row
    data table per doc with date/int/url/text columns and one dirty
    cell ('n/a' in the int column of every 5th doc) — majority vote
    must still type it int."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    def _row(r):
        dirty = (did % 5 == 0) & F.lit(r == 2)
        return F.concat(
            F.lit("<tr><td>2020-01-1"),
            ((did + r) % 10).cast("string"),
            F.lit("</td><td>"),
            F.when(dirty, F.lit("n/a"))
            .otherwise(((did * 3 + r) % 100).cast("string")),
            F.lit("</td><td>https://x.org/%d</td><td>note %d</td></tr>"
                  % (r, r)))
    html = F.concat(F.lit("<html><body><table>"),
                    _row(0), _row(1), _row(2),
                    F.lit("</table></body></html>"))
    pages = d.select(
        F.concat(F.lit("https://example.org/dtable/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return (table_column_types(html_table_cells(pages))
            .orderBy("url", "col_idx"))


# value-overlap column matching; disjoint pairs never appear
@query("kg_schema_matching", oracle="""
    WITH l AS (
      SELECT DISTINCT 'year' AS col_a,
             CAST(2000 + doc_id % 30 AS VARCHAR) AS value
      FROM documents
      UNION
      SELECT DISTINCT 'topic', 'topic' || (doc_id % 11)
      FROM documents),
    r AS (
      SELECT DISTINCT 'yr' AS col_b,
             CAST(2010 + doc_id % 30 AS VARCHAR) AS value
      FROM documents
      UNION
      SELECT DISTINCT 'subject', 'topic' || (doc_id % 7)
      FROM documents
      UNION
      SELECT DISTINCT 'city', 'city' || (doc_id % 5)
      FROM documents),
    shared AS (
      SELECT col_a, col_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM l JOIN r USING (value) GROUP BY col_a, col_b),
    na AS (SELECT col_a, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM l GROUP BY col_a),
    nb AS (SELECT col_b, CAST(COUNT(*) AS BIGINT) AS n_b
           FROM r GROUP BY col_b)
    SELECT col_a, col_b, n_shared, n_a, n_b,
           n_shared / (n_a + n_b - n_shared) AS jaccard
    FROM shared JOIN na USING (col_a) JOIN nb USING (col_b)
    ORDER BY col_a, col_b""")
def _q_schema_matching(spark, sf_dir):
    """WebTables-style schema matching: left columns (year, topic)
    vs right (yr, subject, city) with planted value overlaps —
    year~yr share the 2010-2029 band, topic~subject share the mod-7
    topics, city matches nothing and must not appear."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    left = (d.select(F.lit("year").alias("col"),
                     (2000 + did % 30).cast("string").alias("value"))
            .unionByName(d.select(
                F.lit("topic").alias("col"),
                F.concat(F.lit("topic"), (did % 11).cast("string"))
                .alias("value"))))
    right = (d.select(F.lit("yr").alias("col"),
                      (2010 + did % 30).cast("string").alias("value"))
             .unionByName(d.select(
                 F.lit("subject").alias("col"),
                 F.concat(F.lit("topic"), (did % 7).cast("string"))
                 .alias("value")))
             .unionByName(d.select(
                 F.lit("city").alias("col"),
                 F.concat(F.lit("city"), (did % 5).cast("string"))
                 .alias("value"))))
    return schema_match(left, right).orderBy("col_a", "col_b")


# the 12-pair FD audit matrix, one groupBy per pair
@query("kg_fd_discovery", oracle=(
    "WITH t AS (SELECT doc_id AS id, doc_id % 14 AS a, "
    "doc_id % 7 AS b, doc_id % 2 AS c FROM documents) "
    + " UNION ALL ".join(
        "SELECT '%s' AS lhs, '%s' AS rhs, "
        "MAX(nd) <= 1 AS holds, "
        "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_violations "
        "FROM (SELECT %s AS k, COUNT(DISTINCT %s) AS nd "
        "FROM t GROUP BY %s) g_%s_%s"
        % (x, y, x, y, x, x, y)
        for x in ("id", "a", "b", "c")
        for y in ("id", "a", "b", "c") if x != y)
    + " ORDER BY lhs, rhs"))
def _q_fd_discovery(spark, sf_dir):
    """FD/key discovery over a planted 4-column table: id is a key,
    %14 determines %7 and %2, nothing determines id, %7 and %2
    determine nothing — the full 12-pair audit matrix."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rows = d.select(did.alias("id"), (did % 14).alias("a"),
                    (did % 7).alias("b"), (did % 2).alias("c"))
    return fd_discovery(rows, ["id", "a", "b", "c"]) \
        .orderBy("lhs", "rhs")


# features closed-form from the doubled fixed-offset plant
@query("kg_entity_salience", oracle="""
    WITH lm AS (
      SELECT 'https://example.org/legal/' || doc_id AS url,
             10 + doc_id % 12 AS p, 1990 + doc_id % 10 AS y,
             10 + doc_id % 90 AS n, 100 + doc_id % 100 AS pn
      FROM documents),
    m AS (
      SELECT url,
             'https://lagen.nu/1970:428#P' || p AS target_uri,
             3 AS first_start, 121 AS spread, 1 AS rnk FROM lm
      UNION ALL
      SELECT url, 'https://lagen.nu/dom/nja/' || y || 's' || n,
             40, 103, 2 FROM lm
      UNION ALL
      SELECT url, 'https://lagen.nu/prop/1997/98:' || pn,
             60, 106, 3 FROM lm)
    SELECT url, target_uri, CAST(2 AS BIGINT) AS n_mentions,
           CAST(first_start AS BIGINT) AS first_start,
           CAST(spread AS BIGINT) AS spread,
           2.0 / (1 + first_start) AS salience,
           CAST(rnk AS BIGINT) AS "rank"
    FROM m ORDER BY url, "rank" """)
def _q_entity_salience(spark, sf_dir):
    """Entity salience from REAL scanner mention offsets: the legal
    corpus text is doubled so every citation has n_mentions=2 with a
    known dispersion; features, the salience ratio, and the per-doc
    rank are all closed-form from the planted fixed-width offsets."""
    docs = (_legal_docs(spark, sf_dir)
            .select("url", F.concat_ws(" ", "text", "text")
                    .alias("text")))
    return (entity_salience(legal_mentions(docs))
            .orderBy("url", "rank"))


# the 7 planted microdata triples per page, closed-form;
# item ids are document-order skolems url#item0 / url#item1
@query("kg_microdata_triples", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/micro/' || doc_id AS url,
             strftime(DATE '2020-01-01'
                      + INTERVAL ((doc_id * 37) % 1461) DAY,
                      '%Y-%m-%d') AS issued
      FROM documents),
    t AS (
      SELECT url, url || '#item0' AS item_id,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
               AS pred,
             'https://schema.org/Article' AS obj FROM d
      UNION ALL
      SELECT url, url || '#item0',
             'https://schema.org/headline',
             'Document ' || doc_id FROM d
      UNION ALL
      SELECT url, url || '#item0',
             'https://schema.org/datePublished', issued FROM d
      UNION ALL
      SELECT url, url || '#item0', 'https://schema.org/url',
             'https://example.org/res/doc/' || doc_id FROM d
      UNION ALL
      SELECT url, url || '#item0',
             'https://schema.org/author',
             url || '#item1' FROM d
      UNION ALL
      SELECT url, url || '#item1',
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
             'https://schema.org/Person' FROM d
      UNION ALL
      SELECT url, url || '#item1', 'https://schema.org/name',
             'Author ' || (doc_id % 13) FROM d)
    SELECT url, item_id, pred, obj FROM t
    ORDER BY url, item_id, pred, obj""")
def _q_microdata(spark, sf_dir):
    """HTML5 microdata through the REAL DOM parser: one
    schema.org/Article item per planted page with a nested Person
    author — skolem ids in document order, the 7 triples per page
    emitted closed-form by the oracle."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    issued = F.date_format(
        F.expr("date_add(DATE'2020-01-01', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    html = F.concat(
        F.lit('<html><body><div itemscope '
              'itemtype="https://schema.org/Article">'
              '<h1 itemprop="headline">Document '),
        did,
        F.lit('</h1><time itemprop="datePublished" datetime="'),
        issued,
        F.lit('">then</time>'
              '<a itemprop="url" href="https://example.org/res/doc/'),
        did,
        F.lit('">self</a><div itemprop="author" itemscope '
              'itemtype="https://schema.org/Person">'
              '<span itemprop="name">Author '),
        did % 13,
        F.lit("</span></div></div></body></html>"))
    pages = d.select(
        F.concat(F.lit("https://example.org/micro/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return (microdata_triples(pages)
            .orderBy("url", "item_id", "pred", "obj"))


# the two planted alternates; the stylesheet link must NOT
# appear
@query("kg_hreflang_links", oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             'https://example.org/alt/' || doc_id AS url
      FROM documents),
    a AS (
      SELECT url, lang AS hreflang,
             'https://example.org/' || lang || '/docs/'
               || doc_id AS href
      FROM d
      UNION ALL
      SELECT url, 'x-default',
             'https://example.org/docs/' || doc_id FROM d)
    SELECT url, hreflang, href FROM a
    ORDER BY url, hreflang""")
def _q_hreflang(spark, sf_dir):
    """<link rel=alternate hreflang> extraction through the real DOM
    parser — the page-declared translation graph that seeds bitext
    mining; two planted alternates per page (the doc's own language
    + x-default)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><head><link rel="alternate" hreflang="'),
        F.col("lang"),
        F.lit('" href="https://example.org/'),
        F.col("lang"),
        F.lit("/docs/"), did,
        F.lit('"/><link rel="alternate" hreflang="x-default" '
              'href="https://example.org/docs/'),
        did,
        F.lit('"/><link rel="stylesheet" href="/s.css"/>'
              "</head><body>x</body></html>"))
    pages = d.select(
        F.concat(F.lit("https://example.org/alt/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return (hreflang_alternates(pages)
            .orderBy("url", "hreflang"))


# the planted og/twitter metas in document order; viewport +
# plain description noise must not appear
@query("kg_social_meta_tags", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/social/' || doc_id AS url,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0
             END AS has_og_img,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0
             END AS has_desc
      FROM documents),
    t AS (
      SELECT url, 'og' AS ns, 'og:title' AS prop,
             'OG Document ' || doc_id AS content, 0 AS pos
      FROM d
      UNION ALL
      SELECT url, 'og', 'og:title',
             'Extra ' || (doc_id % 7), 1 FROM d
      UNION ALL
      SELECT url, 'twitter', 'twitter:title',
             'TW Document ' || doc_id, 2 FROM d
      UNION ALL
      SELECT url, 'twitter', 'twitter:card', 'summary', 3
      FROM d
      UNION ALL
      SELECT url, 'og', 'og:type', 'article', 4 FROM d
      UNION ALL
      SELECT url, 'og', 'og:image',
             'https://img.example.org/og/' || doc_id
               || '.png', 5
      FROM d WHERE has_og_img = 1
      UNION ALL
      SELECT url, 'twitter', 'twitter:image',
             'https://img.example.org/tw/' || doc_id
               || '.png', 5 + has_og_img FROM d
      UNION ALL
      SELECT url, 'twitter', 'twitter:description',
             'Doc ' || doc_id || ' summary', 6 + has_og_img
      FROM d WHERE has_desc = 1)
    SELECT url, ns, prop, content, CAST(pos AS INT) AS pos
    FROM t ORDER BY url, pos""")
def _q_social_meta(spark, sf_dir):
    """OpenGraph/Twitter-card meta tags through the REAL DOM parser,
    document order with 0-based positions; noise metas dropped."""
    return (social_meta_tags(_social_pages(spark, sf_dir))
            .orderBy("url", "pos"))


# resolved precedence: og beats twitter, first og:title wins,
# image falls back to twitter when og:image absent,
# description row absent on odd docs
@query("kg_page_cards", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/social/' || doc_id AS url,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0
             END AS has_og_img,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0
             END AS has_desc
      FROM documents),
    c AS (
      SELECT url, 'title' AS field,
             'OG Document ' || doc_id AS content,
             'og' AS src_ns FROM d
      UNION ALL
      SELECT url, 'card', 'summary', 'twitter' FROM d
      UNION ALL
      SELECT url, 'type', 'article', 'og' FROM d
      UNION ALL
      SELECT url, 'image',
             CASE WHEN has_og_img = 1
                  THEN 'https://img.example.org/og/'
                       || doc_id || '.png'
                  ELSE 'https://img.example.org/tw/'
                       || doc_id || '.png' END,
             CASE WHEN has_og_img = 1 THEN 'og'
                  ELSE 'twitter' END FROM d
      UNION ALL
      SELECT url, 'description',
             'Doc ' || doc_id || ' summary', 'twitter'
      FROM d WHERE has_desc = 1)
    SELECT url, field, content, src_ns FROM c
    ORDER BY url, field""")
def _q_page_cards(spark, sf_dir):
    """Effective social card per page: og beats twitter, first tag
    wins within a namespace, absent fields stay absent."""
    return (resolve_page_cards(
        social_meta_tags(_social_pages(spark, sf_dir)))
        .orderBy("url", "field"))


# min/max of the two planted dates, closed-form; the decoy
# 2020-13-40 must never match
@query("kg_publication_dates", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/dated/' || doc_id AS url,
             '2020-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR),
                             2, '0')
                     || '-'
                     || lpad(CAST(1 + doc_id % 28 AS VARCHAR),
                             2, '0') AS d1,
             (2019 + doc_id % 5) || '-06-01' AS d2
      FROM documents)
    SELECT url,
           CASE WHEN doc_id % 7 = 0 THEN 0
                ELSE 2 END AS n_dates,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE least(d1, d2) END AS pub_date,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE greatest(d1, d2) END AS last_date
    FROM d ORDER BY url""")
def _q_publication_dates(spark, sf_dir):
    """Document dating over planted in-content ISO dates (two valid
    dates per doc, none when doc_id%7==0, plus an invalid 2020-13-40
    decoy the regex must reject); the REAL regex scan runs Spark-side,
    the oracle emits min/max closed-form."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    dated = F.format_string(
        "posted 2020-%02d-%02d not-a-date 2020-13-40 rev %d-06-01 end",
        F.lit(1) + did % 12, F.lit(1) + did % 28,
        F.lit(2019) + did % 5)
    docs = d.select(
        F.format_string("https://example.org/dated/%d", did)
        .alias("url"),
        F.when(did % 7 == 0, F.lit("no dates at all"))
        .otherwise(dated).alias("text"))
    return publication_dates(docs).orderBy("url")


# regexp_extract_all replay (RE2 and Java regex agree on
# leftmost-first alternation + greedy captures here)
@query("kg_reverb_triples", oracle="""
    WITH d AS (SELECT
           'https://example.org/docs/' || doc_id AS url,
           'Acme' || (doc_id % 50)
             || ' Corp was founded by Ann' || (doc_id % 7)
             || ' Lee. Bob' || doc_id || ' works at Acme'
             || (doc_id % 50) || ' Corp. Rome'
             || (doc_id % 9) || ' is located in Italy'
             || (doc_id % 9) || '. nothing here. Zed'
             || (doc_id % 5) || ' is a Widget'
             || (doc_id % 3) || '.' AS text
           FROM documents),
    m AS (SELECT url,
           regexp_extract_all(text, '{RVB}', 1) AS s,
           regexp_extract_all(text, '{RVB}', 2) AS r,
           regexp_extract_all(text, '{RVB}', 3) AS o
          FROM d)
    SELECT url, CAST(i - 1 AS BIGINT) AS pos,
           s[CAST(i AS BIGINT)] AS subj_text,
           r[CAST(i AS BIGINT)] AS rel,
           o[CAST(i AS BIGINT)] AS obj_text
    FROM m, unnest(generate_series(CAST(1 AS BIGINT),
                   CAST(len(s) AS BIGINT))) AS t(i)
    ORDER BY url, pos""".replace("{RVB}", _reverb_pattern()))
def _q_reverb_triples(spark, sf_dir):
    """ReVerb-lite open IE over planted prose: every doc carries one
    instance of four of the five relation phrases with multi-word
    capitalized entity spans (plus a lowercase decoy sentence); both
    engines walk the same leftmost-first regex, so the oracle is a
    regexp_extract_all replay, not a closed form."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    text = F.format_string(
        "Acme%d Corp was founded by Ann%d Lee. Bob%d works at "
        "Acme%d Corp. Rome%d is located in Italy%d. nothing here. "
        "Zed%d is a Widget%d.",
        did % 50, did % 7, did, did % 50, did % 9, did % 9,
        did % 5, did % 3)
    docs = d.select(
        F.format_string("https://example.org/docs/%d", did).alias("url"),
        text.alias("text"))
    return reverb_triples(docs).orderBy("url", "pos")


# parents are closed-form for the two planted page shapes
@query("kg_heading_outline", oracle="""
    WITH b AS (
      SELECT doc_id,
             'https://example.org/res/doc/' || doc_id AS url
      FROM documents),
    r AS (
      SELECT url, 0 AS pos, 1 AS level,
             'Document ' || doc_id AS title,
             CAST(NULL AS BIGINT) AS parent
      FROM b
      UNION ALL SELECT url, 1, 2, 'Intro', 0 FROM b
      UNION ALL SELECT url, 2, 3, 'Detail ' || (doc_id % 7),
             1 FROM b
      UNION ALL SELECT url, 3, 2, 'Body', 0 FROM b
      UNION ALL SELECT url, 4, 3, 'Extra', 3 FROM b
      WHERE doc_id % 2 = 1)
    SELECT url, CAST(pos AS BIGINT) AS pos,
           CAST(level AS BIGINT) AS level, title,
           CAST(parent AS BIGINT) AS parent_pos
    FROM r ORDER BY url, pos""")
def _q_kg_heading_outline(spark, sf_dir):
    """h1-h6 outline extraction over planted heading markup (two
    page shapes); parents are closed-form so the oracle emits
    expected rows directly."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/res/doc/"),
                   did.cast("string"))
    base = F.concat(
        F.lit("<html><body><h1>Document "), did.cast("string"),
        F.lit("</h1><p>x</p><h2>Intro</h2><h3 class=a>Detail "),
        (did % 7).cast("string"),
        F.lit("</h3><h2>Body</h2>"))
    html = F.concat(base,
                    F.when(did % 2 == 1,
                           F.lit("<h3>Extra</h3></body></html>"))
                    .otherwise(F.lit("</body></html>")))
    return (heading_outline(d.select(url.alias("url"),
                                     html.alias("html")))
            .orderBy("url", "pos"))


@query("kg_breadcrumbs", oracle="""
    WITH b AS (
      SELECT doc_id, source,
             'https://example.org/res/doc/' || doc_id AS url
      FROM documents),
    r AS (
      SELECT url, 0 AS pos, '/' AS href, 'Home' AS label,
             CAST(NULL AS VARCHAR) AS parent_href
      FROM b
      UNION ALL
      SELECT url, 1, '/' || source, source, '/' FROM b
      UNION ALL
      SELECT url, 2, '/' || source || '/' || doc_id,
             'Document ' || doc_id, '/' || source
      FROM b)
    SELECT url, CAST(pos AS BIGINT) AS pos, href, label,
           parent_href
    FROM r ORDER BY url, pos""")
def _q_kg_breadcrumbs(spark, sf_dir):
    """Breadcrumb-trail extraction from planted nav markup (Home >
    source > leaf); trail rows and parent edges are closed-form."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><nav class="crumbs breadcrumb">'
              '<a href="/">Home</a> &gt; <a href="/'),
        F.col("source"), F.lit('">'), F.col("source"),
        F.lit('</a> &gt; <a href="/'), F.col("source"), F.lit("/"),
        did.cast("string"), F.lit('">Document '), did.cast("string"),
        F.lit("</a></nav><p>body</p></body></html>"))
    pages = d.select(
        F.concat(F.lit("https://example.org/res/doc/"),
                 did.cast("string")).alias("url"),
        html.alias("html"))
    return breadcrumb_trails(pages).orderBy("url", "pos")


# the 12-pair IND audit matrix, independent subquery form
# (no inverted list -- a SINDY bug would hash-mismatch)
@query("kg_inclusion_deps", oracle=(
    "WITH t AS (SELECT CAST(doc_id % 20 AS VARCHAR) AS a, "
    "CAST(doc_id % 10 AS VARCHAR) AS b, "
    "CAST(doc_id % 10 + 10 AS VARCHAR) AS c, "
    "CAST(doc_id % 30 AS VARCHAR) AS d FROM documents) "
    + " UNION ALL ".join(
        "SELECT '{x}' AS lhs, '{y}' AS rhs, "
        "(SELECT CAST(COUNT(DISTINCT {x}) AS BIGINT) FROM t)"
        " AS n_lhs_values, "
        "(SELECT CAST(COUNT(DISTINCT {x}) AS BIGINT) FROM t"
        " WHERE {x} IN (SELECT {y} FROM t))"
        " AS n_shared_values, "
        "(SELECT COUNT(DISTINCT {x}) FROM t"
        " WHERE {x} IN (SELECT {y} FROM t))"
        " = (SELECT COUNT(DISTINCT {x}) FROM t) AS holds"
        .format(x=x, y=y)
        for x in ("a", "b", "c", "d")
        for y in ("a", "b", "c", "d") if x != y)
    + " ORDER BY lhs, rhs"))
def _q_kg_inclusion_deps(spark, sf_dir):
    """SINDY inclusion-dependency audit over a planted 4-column
    mined table: values(b)=0..9 ⊆ values(a)=0..19 ⊆ values(d)=0..29,
    values(c)=10..19 ⊆ a and d but disjoint from b's 0..9 only above
    9 — the full 12-pair FK-candidate matrix, the dual of
    kg_fd_discovery's audit."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rows = d.select((did % 20).alias("a"), (did % 10).alias("b"),
                    (did % 10 + 10).alias("c"), (did % 30).alias("d"))
    return inclusion_deps(rows, ["a", "b", "c", "d"]) \
        .orderBy("lhs", "rhs")


# PEP preamble distillation, every triple closed-form from
# doc_id (day/month/year arithmetic mirrors the planted text)
@query("pep_docs", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/res/pep/' || doc_id AS subj,
             1 + doc_id % 28 AS day,
             1 + doc_id % 12 AS mon,
             1991 + doc_id % 30 AS yr
      FROM documents),
    t AS (
      SELECT subj,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
               AS pred,
             'http://xmlns.com/foaf/0.1/Document' AS obj
      FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/dc/terms/identifier',
             'PEP ' || doc_id FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/dc/terms/title',
             'Proposal ' || (doc_id % 7) FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/ontology/bibo/status',
             CASE doc_id % 3 WHEN 0 THEN 'Draft'
                  WHEN 1 THEN 'Accepted' ELSE 'Final' END
      FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/dc/terms/type',
             CASE WHEN doc_id % 2 = 0 THEN 'Standards Track'
                  ELSE 'Informational' END FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/dc/terms/issued',
             printf('%04d-%02d-%02d', yr, mon, day) FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/dc/terms/creator',
             'Author' || (doc_id % 5) FROM d
      UNION ALL
      SELECT subj, 'http://purl.org/dc/terms/creator',
             'Author' || (doc_id % 3 + 5) FROM d
      WHERE doc_id % 2 = 0)
    SELECT subj, pred, obj FROM t
    ORDER BY subj, pred, obj""")
def _q_pep_docs(spark, sf_dir):
    """PEP repo instance (sources/tech/pep.py:12-16 + the PEP 1
    preamble grammar): planted RFC-2822-style PEP headers distilled
    into triples by the JVM-regexp parser — rdf:type foaf:Document
    (the DocumentRepository default pep.py inherits), identifier,
    title, per-author creator triples, status/type literals, and the
    dd-Mon-yyyy Created date normalized to ISO.  The oracle restates
    every triple closed-form from doc_id."""
    did = F.col("doc_id")
    mon_idx = (did % 12).cast("int")
    months = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
    mon_name = F.array(*[F.lit(m) for m in months])[mon_idx]
    # second author only on even PEPs: exercises both split arities
    authors = F.concat(
        F.lit("Author"), (did % 5).cast("string"),
        F.when(did % 2 == 0,
               F.concat(F.lit(", Author"), (did % 3 + 5).cast("string")))
        .otherwise(F.lit("")))
    status = F.array(F.lit("Draft"), F.lit("Accepted"),
                     F.lit("Final"))[(did % 3).cast("int")]
    ptype = F.when(did % 2 == 0, F.lit("Standards Track")) \
        .otherwise(F.lit("Informational"))
    text = F.concat(
        F.lit("PEP: "), did.cast("string"),
        F.lit("\nTitle: Proposal "), (did % 7).cast("string"),
        F.lit("\nAuthor: "), authors,
        F.lit("\nStatus: "), status,
        F.lit("\nType: "), ptype,
        F.lit("\nCreated: "), (1 + did % 28).cast("string"),
        F.lit("-"), mon_name, F.lit("-"), (1991 + did % 30).cast("string"),
        F.lit("\nPython-Version: 3."), (did % 13).cast("string"),
        F.lit("\n\nAbstract body follows here."))
    docs = (_read(spark, sf_dir, "documents")
            .select(did.cast("string").alias("basefile"),
                    text.alias("text")))
    return (pep_triples(docs).orderBy("subj", "pred", "obj"))


# ECMA catalog: two planted mentions per page, counted per
# distinct basefile; URLs from the document_url_template
@query("ecma_standards", oracle="""
    WITH m AS (
      SELECT CAST(262 + doc_id % 40 AS VARCHAR) AS basefile
      FROM documents
      UNION ALL
      SELECT CAST(100 + doc_id % 60 AS VARCHAR)
      FROM documents)
    SELECT basefile,
           'http://www.ecma-international.org/publications/'
             || 'standards/Ecma-' || basefile || '.htm'
             AS doc_url,
           'https://example.org/res/ecma/' || basefile
             AS doc_uri,
           'http://purl.org/ontology/bibo/Standard'
             AS rdf_type,
           CAST(COUNT(*) AS BIGINT) AS n_mentions
    FROM m GROUP BY basefile ORDER BY basefile""")
def _q_ecma_standards(spark, sf_dir):
    r"""ECMA repo instance (sources/tech/ecma.py:11-18): basefile
    discovery via the config's ECMA-(\d+) regex over planted listing
    pages, document URLs minted from document_url_template, rdf:type
    bibo:Standard.  Each page mentions two standards; mention counts
    aggregate per basefile."""
    did = F.col("doc_id")
    text = F.concat(
        F.lit("Standards index: ECMA-"), (262 + did % 40).cast("string"),
        F.lit(" (scripting) and ECMA-"), (100 + did % 60).cast("string"),
        F.lit(" are listed. See also Ecma International."))
    pages = (_read(spark, sf_dir, "documents")
             .select(text.alias("text")))
    return ecma_standards(pages).orderBy("basefile")
