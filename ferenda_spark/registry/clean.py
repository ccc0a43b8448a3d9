"""Cleaning, PII and boilerplate queries (``clean_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.cleaning import (MOJIBAKE_C1_PAT,
                                              MOJIBAKE_DOUBLE_PAT,
                                              MOJIBAKE_REPLACEMENT,
                                              canonical_url, classify_blocks,
                                              compression_ratio, contaminated,
                                              content_blocks, host_of,
                                              lang_outliers,
                                              luhn_card_candidates,
                                              main_content, mojibake_stats,
                                              redact_pii, repetition_stats,
                                              strip_hot_lines,
                                              template_clusters)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _read


def _block_pages(spark, sf_dir):
    """Planted block-structured pages for the jusText-style content
    extractor: a link-dense nav (bad), a 2-word heading (short ->
    bad: neighbors nav/good are not both good), a 26-word paragraph
    (good), a 7-word note (near -> good: prev is good), a 2-word
    stub (short -> bad), a 30-word paragraph (good), a link footer
    (bad)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body>'
              '<div class="nav"><a href="/">Home</a> '
              '<a href="/a">About '),
        did % 5,
        F.lit('</a></div><h1>Document '),
        did,
        F.lit("</h1><p>body "),
        did,
        F.lit(" " + "alpha beta gamma delta " * 6 + "</p><p>note "),
        did % 7,
        F.lit(" spans just seven words here</p><p>tiny "),
        did % 3,
        F.lit("</p><p>" + "omega " * 30 + "</p>"
              '<div><a href="/t">Terms</a> <a href="/p">Privacy</a>'
              "</div></body></html>"))
    return d.select(
        F.concat(F.lit("https://example.org/blocks/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))


def _mojibake_oracle() -> str:
    """Rebuild the planted corruption text and replay the three RE2
    scans; patterns come from the cleaning module so oracle and
    operator can never drift."""
    sql = """
            WITH d AS (SELECT
                   'https://example.org/docs/' || doc_id AS url,
                   CASE WHEN doc_id % 9 = 0 THEN ''
                        ELSE repeat('x', 10 + doc_id % 5)
                             || repeat('{DBL}', doc_id % 4)
                             || repeat('{RPL}', doc_id % 3)
                             || repeat('{C1C}', doc_id % 2)
                   END AS text
                   FROM documents),
            c AS (SELECT url,
                   CAST(len(regexp_extract_all(text, '{PD}'))
                        AS BIGINT) AS n_double_utf8,
                   CAST(len(regexp_extract_all(text, '{PC}'))
                        AS BIGINT) AS n_c1,
                   CAST(len(regexp_extract_all(text, '{PR}'))
                        AS BIGINT) AS n_replacement,
                   CAST(length(text) AS BIGINT) AS n_chars
                  FROM d)
            SELECT url, n_double_utf8, n_c1, n_replacement, n_chars,
                   CASE WHEN n_chars > 0
                        THEN CAST(n_double_utf8 + n_c1 + n_replacement
                                  AS DOUBLE) * 1000.0 / n_chars
                   END AS mojibake_per_1k
            FROM c ORDER BY url"""
    return (sql.replace("{DBL}", chr(0xC3) + chr(0xA9))
            .replace("{RPL}", chr(0xFFFD))
            .replace("{C1C}", chr(0x85))
            .replace("{PD}", MOJIBAKE_DOUBLE_PAT)
            .replace("{PC}", MOJIBAKE_C1_PAT)
            .replace("{PR}", MOJIBAKE_REPLACEMENT))


@query("clean_strip_boilerplate", oracle=r"""
    WITH d AS (
      SELECT doc_id,
             regexp_replace(text, ' the ', chr(10), 'g') AS text
      FROM documents),
    parts AS (
      SELECT doc_id, string_split(text, chr(10)) AS p FROM d),
    l AS (
      SELECT doc_id, i AS line_no, trim(p[i]) AS line
      FROM parts, unnest(generate_series(1, len(p))) AS t(i)
      WHERE trim(p[i]) <> ''),
    hot AS (
      SELECT line FROM l GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= 3),
    reb AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY line_no) AS text
      FROM l WHERE line NOT IN (SELECT line FROM hot)
      GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(reb.text, '') AS text
    FROM d LEFT JOIN reb USING (doc_id)""")
def _q_clean_strip_boilerplate(spark, sf_dir):
    """C4-style line-level boilerplate removal.  The corpus is
    single-line word soup, so lines are synthesized deterministically
    (splitting on ' the ' — mirrored verbatim in the oracle); lines
    shared by >= 3 documents are boilerplate and removed from every
    document, order preserved."""
    docs = (_read(spark, sf_dir, "documents")
            .select("doc_id",
                    F.regexp_replace("text", " the ", "\n")
                    .alias("text")))
    return strip_hot_lines(docs, min_docs=3)


@query("clean_redact_pii", oracle="""
    SELECT doc_id,
           text || ' contact <EMAIL> from <IP>' AS text_redacted
    FROM documents""")
def _q_clean_redact_pii(spark, sf_dir):
    """PII redaction: deterministic email/IP suffixes are planted per
    doc, then redacted by the regexp_replace chain; the oracle is the
    closed form of the expected redaction (asserts the regexes match
    exactly what they should, nothing else)."""
    docs = (_read(spark, sf_dir, "documents")
            .withColumn("text", F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"), F.lit(".7"))))
    return redact_pii(docs).select("doc_id", "text_redacted")


@query("clean_repetition_stats", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1,
                 greatest(len(t) - 1, 1)),
               i -> array_to_string(t[i:i+1], ' ')) AS g2,
             list_transform(generate_series(1,
                 greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' ')) AS g3
      FROM toks)
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                 / len(g2), 4) AS frac_dup_2,
           round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                 / len(g3), 4) AS frac_dup_3
    FROM g""")
def _q_clean_repetition_stats(spark, sf_dir):
    """Gopher repetition signals: duplicate bigram/trigram fraction
    per document (map-side list expressions only)."""
    return repetition_stats(_read(spark, sf_dir, "documents"), ns=(2, 3))


@query("clean_contaminated", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1,
                 greatest(len(t) - 12, 1)),
               i -> array_to_string(t[i:i+12], ' '))) AS gs
      FROM toks),
    pg AS (
      SELECT DISTINCT u.gram FROM g, unnest(gs) AS u(gram)
      WHERE doc_id IN (5, 105)),
    hits AS (
      SELECT g.doc_id FROM g, unnest(gs) AS u(gram)
      WHERE u.gram IN (SELECT gram FROM pg))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM hits GROUP BY doc_id""")
def _q_clean_contaminated(spark, sf_dir):
    """Benchmark decontamination: documents sharing any 13-gram with
    the probe texts (docs 5 and 105 as the stand-in benchmark set) —
    broadcast probe-gram join, md5-keyed."""
    docs = _read(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id").isin([5, 105])).select("text")
    return contaminated(docs, probes, n=13)


@query("url_canonical", oracle="""
    WITH c AS (
      SELECT 'https://host' || (doc_id % 4) || '.example.org/p'
             || (doc_id % 7) || '?id=' || (doc_id % 50)
               AS canonical_url,
             'host' || (doc_id % 4) || '.example.org' AS host
      FROM documents)
    SELECT canonical_url, host, COUNT(*) AS n_urls FROM c
    GROUP BY canonical_url, host ORDER BY canonical_url""")
def _q_url_canonical(spark, sf_dir):
    """Web-corpus URL canonicalization (cleaning.canonical_url): messy
    URLs planted in closed form — uppercase www authority, default
    port, duplicate/trailing slashes, tracking params, fragments — are
    normalized and aggregated per (canonical_url, host).  The oracle
    states the expected canonical form directly from doc_id, so every
    rule of the canonicalizer is pinned end-to-end."""
    did = F.col("doc_id")
    messy = F.concat(
        F.lit("https://WWW.Host"), (did % 4).cast("string"),
        F.lit(".Example.org:443//p"), (did % 7).cast("string"),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&id="), (did % 50).cast("string"),
        F.lit("&gclid=g"),
        F.when(did % 2 == 0, F.lit("#sec")).otherwise(F.lit("")))
    pages = (_read(spark, sf_dir, "documents")
             .select(messy.alias("url")))
    return (pages
            .select(canonical_url(F.col("url")).alias("canonical_url"))
            .withColumn("host", host_of(F.col("canonical_url")))
            .groupBy("canonical_url", "host")
            .agg(F.count(F.lit(1)).alias("n_urls"))
            .orderBy("canonical_url"))


# the 7 planted leaf blocks per page, closed-form features +
# context-free labels; nav 11/12 link chars = 916 permille,
# footer 12/13 = 923
@query("clean_content_blocks", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/blocks/' || doc_id AS url
      FROM documents),
    b AS (
      SELECT url, 0 AS block_id, 'div' AS tag,
             'Home About ' || (doc_id % 5) AS text,
             3 AS n_words, 916 AS link_permille,
             'bad' AS label_cf FROM d
      UNION ALL
      SELECT url, 1, 'h1', 'Document ' || doc_id, 2, 0,
             'short' FROM d
      UNION ALL
      SELECT url, 2, 'p',
             'body ' || doc_id || ' '
               || trim(repeat('alpha beta gamma delta ', 6)),
             26, 0, 'good' FROM d
      UNION ALL
      SELECT url, 3, 'p',
             'note ' || (doc_id % 7)
               || ' spans just seven words here',
             7, 0, 'near' FROM d
      UNION ALL
      SELECT url, 4, 'p', 'tiny ' || (doc_id % 3), 2, 0,
             'short' FROM d
      UNION ALL
      SELECT url, 5, 'p', trim(repeat('omega ', 30)), 30, 0,
             'good' FROM d
      UNION ALL
      SELECT url, 6, 'div', 'Terms Privacy', 2, 923, 'bad'
      FROM d)
    SELECT url, CAST(block_id AS INT) AS block_id, tag, text,
           CAST(n_words AS INT) AS n_words,
           CAST(link_permille AS INT) AS link_permille,
           label_cf
    FROM b ORDER BY url, block_id""")
def _q_content_blocks(spark, sf_dir):
    """DOM leaf-block segmentation + context-free jusText labels
    (word count, integer-permille link density)."""
    return (classify_blocks(content_blocks(
        _block_pages(spark, sf_dir)))
        .orderBy("url", "block_id"))


# after smoothing: good blocks are 2 (26w), 3 (near beside
# good) and 5 (30w); heading and stub fall to bad
@query("clean_main_content", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/blocks/' || doc_id AS url
      FROM documents)
    SELECT url, 7 AS n_blocks, 3 AS n_good,
           'body ' || doc_id || ' '
             || trim(repeat('alpha beta gamma delta ', 6))
             || chr(10) || 'note ' || (doc_id % 7)
             || ' spans just seven words here'
             || chr(10) || trim(repeat('omega ', 30))
             AS main_text
    FROM d ORDER BY url""")
def _q_main_content(spark, sf_dir):
    """Composed main-content extraction: neighbor smoothing, then the
    newline-joined good-block text per page."""
    return (main_content(_block_pages(spark, sf_dir))
            .orderBy("url"))


@query("clean_mojibake", oracle=_mojibake_oracle())
def _q_mojibake(spark, sf_dir):
    """Mojibake triage over planted corruption: doc_id%4 double-UTF-8
    pairs, %3 replacement chars, %2 C1 controls appended to a clean
    x-run (empty text at %9==0 exercises the NULL ratio); the oracle
    rebuilds the identical text with repeat() and replays the three
    RE2 scans."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def rep(s, m):
        return F.repeat(F.lit(s), (did % m).cast("int"))

    t = F.when(did % 9 == 0, F.lit("")).otherwise(F.concat(
        F.repeat(F.lit("x"), (10 + did % 5).cast("int")),
        rep(chr(0xC3) + chr(0xA9), 4),
        rep(chr(0xFFFD), 3),
        rep(chr(0x85), 2)))
    docs = d.select(
        F.format_string("https://example.org/docs/%d", did).alias("url"),
        t.alias("text"))
    return mojibake_stats(docs).orderBy("url")


@query("clean_compression_ratio", oracle=None)
def _q_compression_ratio(spark, sf_dir):
    """DEFLATE compressibility per document over the REAL documents
    table (Arrow-batched zlib kernel -- no SQL equivalent, so the
    gate records a rows-only check; pytest pins exact parity against
    local zlib)."""
    docs = _read(spark, sf_dir, "documents")
    docs = docs.select(
        F.format_string("https://example.org/docs/%d",
                        F.col("doc_id")).alias("url"), "text")
    return compression_ratio(docs).orderBy("url")


# (host, lang) counts, majority window, purity division
@query("clean_lang_outliers", oracle="""
    WITH p AS (SELECT
           CASE WHEN doc_id % 10 < 3 THEN 'hot.example.org'
                ELSE 'example.org' END AS host, lang
           FROM documents),
    cnt AS (SELECT host, lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM p GROUP BY host, lang),
    tot AS (SELECT host, CAST(SUM(n) AS BIGINT) AS n_host
            FROM cnt GROUP BY host),
    mj AS (SELECT host, lang AS majority_lang, n AS n_major
           FROM (SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY host ORDER BY n DESC, lang)
                   AS r FROM cnt)
           WHERE r = 1)
    SELECT c.host, c.lang, c.n, m.majority_lang,
           CAST(m.n_major AS DOUBLE) / t.n_host AS purity,
           c.lang <> m.majority_lang AS is_outlier
    FROM cnt c JOIN mj m USING (host) JOIN tot t USING (host)
    ORDER BY c.host, c.lang""")
def _q_lang_outliers(spark, sf_dir):
    """Host-language consistency over the REAL documents table (hosts
    from the corpus's hot/cold URL rule, languages as planted);
    the oracle replays the (host, lang) counts, the majority window,
    and the purity division."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    host = F.when(F.col("doc_id") % 10 < 3,
                  F.lit("hot.example.org")).otherwise(
        F.lit("example.org"))
    return (lang_outliers(d.select(host.alias("host"), "lang"))
            .orderBy("host", "lang"))


@query("clean_template_clusters", oracle=r"""
    WITH b AS (
      SELECT doc_id, source,
             CAST(regexp_extract(source, 'src(\d+)', 1)
                  AS BIGINT) % 5 AS t,
             CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END
               AS outl,
             'https://example.org/docs/' || source || '/'
               || doc_id AS url
      FROM documents),
    s AS (
      SELECT url,
             (CASE t WHEN 0 THEN 'html,body,div,h1,p'
                     WHEN 1 THEN 'html,body,article,h1,p,p'
                     WHEN 2 THEN 'html,body,main,section,h2,p'
                     WHEN 3 THEN 'html,body,table,tr,td'
                     ELSE 'html,body,div,ul,li,li' END)
             || CASE WHEN outl = 1 THEN ',aside' ELSE '' END
               AS tagseq
      FROM b)
    SELECT md5(tagseq) AS signature,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(len(string_split(tagseq, ',')) AS BIGINT)
             AS n_tags,
           MIN(url) AS example_id
    FROM s GROUP BY tagseq ORDER BY signature""")
def _q_clean_template_clusters(spark, sf_dir):
    """DOM-template clustering: 5 planted server-side templates
    (source_num % 5) with per-doc copy, plus an <aside> outlier
    variant every 17th doc — clusters are closed-form (template,
    outlier) cells and the oracle md5s the same tag sequences."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tnum = (F.regexp_extract("source", r"src(\d+)", 1)
            .cast("long") % 5)
    title = F.concat(F.lit("Document "), did.cast("string"))
    body = F.substring("text", 1, 40)
    t0 = F.concat(F.lit("<html><body><div><h1>"), title,
                  F.lit("</h1><p>"), body, F.lit("</p></div>"))
    t1 = F.concat(F.lit("<html><body><article><h1>"), title,
                  F.lit("</h1><p>"), body, F.lit("</p><p>more</p>"
                  "</article>"))
    t2 = F.concat(F.lit("<html><body><main><section><h2>"), title,
                  F.lit("</h2><p>"), body, F.lit("</p></section>"
                  "</main>"))
    t3 = F.concat(F.lit("<html><body><table><tr><td>"), body,
                  F.lit("</td></tr></table>"))
    t4 = F.concat(F.lit("<html><body><div><ul><li>"), title,
                  F.lit("</li><li>"), body, F.lit("</li></ul></div>"))
    html = (F.when(tnum == 0, t0).when(tnum == 1, t1)
            .when(tnum == 2, t2).when(tnum == 3, t3).otherwise(t4))
    html = F.concat(html,
                    F.when(did % 17 == 0,
                           F.lit("<aside>ad</aside></body></html>"))
                    .otherwise(F.lit("</body></html>")))
    pages = d.select(
        F.concat(F.lit("https://example.org/docs/"), F.col("source"),
                 F.lit("/"), did.cast("string")).alias("url"),
        html.alias("html"))
    return template_clusters(pages).orderBy("signature")


# Luhn card detection: planted check digits, validity stated
# closed-form (visa true digit 1, amex true digit 5)
@query("clean_card_pii", oracle="""
    WITH d AS (SELECT doc_id, doc_id % 10 AS v,
                      (doc_id * 3) % 10 AS a
               FROM documents),
    rows_ AS (
      SELECT doc_id,
             '37828224631000' || a AS candidate,
             '37828224631000' || a AS digits,
             15 AS n_digits,
             a = 5 AS luhn_valid,
             CASE WHEN a = 5 THEN 'amex' END AS issuer
      FROM d
      UNION ALL
      SELECT doc_id,
             '4111 1111 1111 111' || v,
             '411111111111111' || v,
             16,
             v = 1,
             CASE WHEN v = 1 THEN 'visa' END
      FROM d)
    SELECT doc_id, candidate, digits,
           CAST(n_digits AS INT) AS n_digits,
           luhn_valid, issuer
    FROM rows_ ORDER BY doc_id, candidate""")
def _q_clean_card_pii(spark, sf_dir):
    """Luhn-validated payment-card PII detection (cleaning.luhn_card_
    candidates): every doc plants a spaced visa-shaped run whose
    check digit is doc_id%10 (valid only when it lands on the true
    Luhn digit, 1) and an amex-shaped run with check digit
    (doc_id*3)%10 (true digit 5) — the oracle states validity
    closed-form, so the checksum arithmetic is pinned end-to-end,
    including the separator normalization."""
    did = F.col("doc_id")
    text = F.concat(
        F.lit("invoice note pay 4111 1111 1111 111"),
        (did % 10).cast("string"),
        F.lit(" or card 37828224631000"),
        ((did * 3) % 10).cast("string"),
        F.lit(" thanks"))
    docs = (_read(spark, sf_dir, "documents")
            .select("doc_id", text.alias("text")))
    return (luhn_card_candidates(docs)
            .orderBy("doc_id", "candidate"))
