"""Search, ranking and facet queries (``search_*``)."""

from pyspark.sql import Window, functions as F

from ferenda_spark.operators.dedup import tokens
from ferenda_spark.operators.facets import faceted_data, news_feeds
from ferenda_spark.operators.search import (autocomplete, bm25_rank,
                                            collapse_results, compile_query,
                                            fuzzy_lookup, more_like_this,
                                            phrase_search, ranked_set_baseline,
                                            rocchio_expansion, rrf_fusion)
from ferenda_spark.operators.textstats import RAKE_STOPWORDS
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _FACETED_WITH, _read, _triples


def _rocchio_oracle() -> str:
    """BM25 feedback window + stopword/query-term filters + corpus-df
    replay; the stopword list comes from the operator module."""
    stoplist = ", ".join("'%s'" % w for w in RAKE_STOPWORDS)
    return r"""
            WITH needs(query, term) AS (VALUES
              ('q_spark', 'spark'), ('q_spark', 'window'),
              ('q_cust', 'customer'), ('q_cust', 'join'),
              ('q_vec', 'vector'), ('q_vec', 'merge'),
              ('q_vec', 'batch')),
            dk AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)),
                                        '[ \t\n\r\f\x0B]+') AS tk
              FROM documents),
            d AS (SELECT doc_id, tk, len(tk) AS dl FROM dk),
            st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
            tdist AS (SELECT DISTINCT term FROM needs),
            tf AS (
              SELECT doc_id, dl, term,
                     len(list_filter(tk, x -> x = term)) AS tf
              FROM d CROSS JOIN tdist
              WHERE len(list_filter(tk, x -> x = term)) > 0),
            dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            sc AS (
              SELECT doc_id, term,
                     ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
              FROM tf JOIN dft USING (term) CROSS JOIN st),
            pq AS (
              SELECT n.query, CAST(sc.doc_id AS VARCHAR) AS item,
                     round(SUM(sc.s), 6) AS score
              FROM sc JOIN needs n USING (term)
              GROUP BY n.query, item),
            fb AS (
              SELECT query, item FROM (
                SELECT query, item,
                       ROW_NUMBER() OVER (PARTITION BY query
                         ORDER BY score DESC, item) AS r
                FROM pq) WHERE r <= 5),
            docs AS (SELECT CAST(doc_id AS VARCHAR) AS item, tk FROM d),
            pool AS (
              SELECT fb.query, u.term
              FROM fb JOIN docs USING (item),
                   unnest(docs.tk) AS u(term)
              WHERE u.term <> '' AND u.term NOT IN ({STOPS})),
            cand AS (
              SELECT query, term FROM pool
              WHERE NOT EXISTS (SELECT 1 FROM needs n
                                WHERE n.query = pool.query
                                  AND lower(n.term) = pool.term)),
            tfq AS (SELECT query, term,
                    CAST(COUNT(*) AS BIGINT) AS total_tf
                    FROM cand GROUP BY query, term),
            vocab AS (SELECT DISTINCT term FROM tfq),
            dfv AS (SELECT v.term, CAST(COUNT(*) AS BIGINT) AS df
                    FROM d CROSS JOIN vocab v
                    WHERE list_contains(d.tk, v.term)
                    GROUP BY v.term),
            rk2 AS (SELECT tfq.query, tfq.term, total_tf, df,
                    CAST(ROW_NUMBER() OVER (PARTITION BY tfq.query
                      ORDER BY total_tf DESC, df, tfq.term)
                      AS BIGINT) AS rank
                    FROM tfq JOIN dfv USING (term))
            SELECT query, term, total_tf, df, rank FROM rk2
            WHERE rank <= 3 ORDER BY query, rank""".replace(
        "{STOPS}", stoplist)


@query("feed_archive_pages", oracle="""
    SELECT event_type, archive_page, COUNT(*) AS n,
           MIN(event_id) AS min_event FROM (
      SELECT event_type, event_id,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ts DESC, event_id) - 1) / 100) AS BIGINT)
               AS archive_page
      FROM events)
    GROUP BY event_type, archive_page""")
def _q_feed_archive_pages(spark, sf_dir):
    ev = (_read(spark, sf_dir, "events")
          .withColumn("uri", F.col("event_id")))
    fed = news_feeds(ev, feed_col="event_type", ts_col="ts", page_size=100)
    return (fed.groupBy("event_type", "archive_page")
            .agg(F.count("*").alias("n"),
                 F.min("event_id").alias("min_event")))


@query("search_documents", oracle="""
    SELECT doc_id,
           (CASE WHEN lower(text) LIKE '%spark%' THEN 1.0 ELSE 0.0 END
            + CASE WHEN lower(text) LIKE '%merge%' THEN 1.0 ELSE 0.0 END)
             AS score
    FROM documents
    WHERE lower(text) LIKE '%spark%' AND lower(text) LIKE '%merge%'
    ORDER BY score DESC, doc_id LIMIT 20""")
def _q_search_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return compile_query(docs, q="spark merge", boosts={"text": 1.0},
                         page=0, page_size=20, id_col="doc_id",
                         text_fields=("text",)).select("doc_id", "score")


@query("autocomplete_titles", oracle=_FACETED_WITH + """
    SELECT uri, dcterms_title FROM faceted
    WHERE lower(dcterms_title) LIKE 'document 1%'
    ORDER BY dcterms_title, uri LIMIT 15""")
def _q_autocomplete_titles(spark, sf_dir):
    fd = faceted_data(_triples(spark, sf_dir))
    return (autocomplete(fd, "Document 1", "dcterms_title", limit=15)
            .select("uri", "dcterms_title"))


# full BM25: Lucene-form idf, k1=1.2 b=0.75 length norm
@query("search_bm25", oracle=r"""
    WITH needs(query, term) AS (VALUES
      ('q_spark', 'spark'), ('q_spark', 'window'),
      ('q_cust', 'customer'), ('q_cust', 'join'),
      ('q_vec', 'vector'), ('q_vec', 'merge'),
      ('q_vec', 'batch')),
    dk AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    d AS (SELECT doc_id, tk, len(tk) AS dl FROM dk),
    st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
    tdist AS (SELECT DISTINCT term FROM needs),
    tf AS (
      SELECT doc_id, dl, term,
             len(list_filter(tk, x -> x = term)) AS tf
      FROM d CROSS JOIN tdist
      WHERE len(list_filter(tk, x -> x = term)) > 0),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT doc_id, term,
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
      FROM tf JOIN dft USING (term) CROSS JOIN st),
    pq AS (
      SELECT n.query, CAST(sc.doc_id AS VARCHAR) AS item,
             round(SUM(sc.s), 6) AS score
      FROM sc JOIN needs n USING (term)
      GROUP BY n.query, item),
    rk AS (
      SELECT query, item, score,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query
               ORDER BY score DESC, item) AS INT) AS rank
      FROM pq)
    SELECT query, item, rank, score FROM rk
    WHERE rank <= 15 ORDER BY query, rank""")
def _q_search_bm25(spark, sf_dir):
    """Full BM25 over the documents corpus for three fixed
    information needs: exact-token tf, Lucene-form idf, k1/b length
    normalization against the corpus mean doc length.  The real
    scorer behind the reference's whoosh/ES surface (SURVEY.md Q8),
    oracle-exact."""
    needs = spark.createDataFrame(
        [("q_spark", "spark"), ("q_spark", "window"),
         ("q_cust", "customer"), ("q_cust", "join"),
         ("q_vec", "vector"), ("q_vec", "merge"), ("q_vec", "batch")],
        "query string, term string")
    return (bm25_rank(_read(spark, sf_dir, "documents")
                      .select("doc_id", "text"), needs, limit=15)
            .orderBy("query", "rank"))


@query("search_year_range", oracle=_FACETED_WITH + """
    SELECT uri, dcterms_issued, year FROM faceted
    WHERE dcterms_issued > '2020-12-31'
      AND dcterms_issued < '2022-01-01'""")
def _q_search_year_range(spark, sf_dir):
    """Q4/Q5: year-F range filter with the reference's *exclusive*
    bounds (wsgiapp.py:566-597)."""
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, ranges={"dcterms_issued": ("year", 2021)},
                          boosts={}, page=0, page_size=2000,
                          id_col="uri", text_fields=())
            .select("uri", "dcterms_issued", "year"))


@query("search_fielded", oracle=_FACETED_WITH + """
    SELECT uri, dcterms_subject, dcterms_identifier FROM faceted
    WHERE dcterms_subject = 'topic3'
      AND regexp_matches(dcterms_identifier, '^src1-.*$')""")
def _q_search_fielded(spark, sf_dir):
    """Q2 equality + Q3 wildcard filters through the query compiler."""
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, filters={"dcterms_subject": "topic3"},
                          wildcard={"dcterms_identifier": "src1-*"},
                          boosts={}, page=0, page_size=2000,
                          id_col="uri", text_fields=())
            .select("uri", "dcterms_subject", "dcterms_identifier"))


@query("search_snippets", oracle="""
    SELECT doc_id,
           substr(text,
                  greatest(strpos(lower(text), 'merge') - 20, 1),
                  60) AS snippet
    FROM documents
    WHERE strpos(lower(text), 'merge') > 0""")
def _q_search_snippets(spark, sf_dir):
    """Q9: substring snippet around the first match."""
    d = _read(spark, sf_dir, "documents")
    pos = F.locate("merge", F.lower(F.col("text")))
    return (d.where(pos > 0)
            .select("doc_id",
                    F.substring(F.col("text"),
                                F.greatest(pos - 20, F.lit(1)), 60)
                    .alias("snippet")))


@query("search_boosted", oracle=_FACETED_WITH + """
    SELECT uri, dcterms_title, dcterms_identifier,
           (CASE WHEN lower(dcterms_title) LIKE '%7%'
                 THEN 4.0 ELSE 0.0 END
            + CASE WHEN lower(dcterms_identifier) LIKE '%7%'
                   THEN 16.0 ELSE 0.0 END) AS score
    FROM faceted
    WHERE lower(dcterms_title) LIKE '%7%'
       OR lower(dcterms_identifier) LIKE '%7%'""")
def _q_search_boosted(spark, sf_dir):
    """Q8 boost scoring: per-field boosts (facet.py:449-470 — title 4,
    identifier 16) summed into a score over free-text term matches."""
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, q="7",
                          boosts={"dcterms_title": 4.0,
                                  "dcterms_identifier": 16.0},
                          page=0, page_size=5000, id_col="uri",
                          text_fields=("dcterms_title",
                                       "dcterms_identifier"))
            .select("uri", "dcterms_title", "dcterms_identifier",
                    "score"))


@query("search_paginated", oracle=_FACETED_WITH + """
    SELECT uri, dcterms_identifier, 0.0 AS score
    FROM faceted ORDER BY uri OFFSET 20 LIMIT 10""")
def _q_search_paginated(spark, sf_dir):
    """Q7 pagination: 0-based _page/_pageSize over the deterministic
    (score desc, uri asc) order (wsgiapp.py:654-665)."""
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, page=2, page_size=10, id_col="uri",
                          text_fields=())
            .select("uri", "dcterms_identifier", "score"))


@query("search_rocchio", oracle=_rocchio_oracle())
def _q_rocchio(spark, sf_dir):
    """Rocchio pseudo-relevance-feedback expansion for the same three
    BM25 information needs (top-5 feedback docs, top-3 expansion
    terms by the all-integer tf/df/term key); the oracle replays the
    BM25 feedback window, the stopword/query-term filters, and the
    corpus-df pass."""
    needs = spark.createDataFrame(
        [("q_spark", "spark"), ("q_spark", "window"),
         ("q_cust", "customer"), ("q_cust", "join"),
         ("q_vec", "vector"), ("q_vec", "merge"), ("q_vec", "batch")],
        "query string, term string")
    return (rocchio_expansion(_read(spark, sf_dir, "documents")
                              .select("doc_id", "text"), needs,
                              top_docs=5, top_terms=3)
            .orderBy("query", "rank"))


@query("search_phrase", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)),
               '[ \t\n\r\f\x0B]+'), t -> length(t) > 0) AS l
      FROM documents),
    hits AS (
      SELECT doc_id, i
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1,
                    len(l) - 1)) AS i)
      WHERE l[i] = 'batch' AND l[i + 1] = 'batch')
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(i) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id ORDER BY doc_id""")
def _q_search_phrase(spark, sf_dir):
    """Positional phrase query ("batch batch") over the corpus: the
    word-salad corpus repeats tokens, so overlapping runs occur
    naturally and the positional count (not a substring replace
    count) is what the oracle replays."""
    return (phrase_search(_read(spark, sf_dir, "documents"),
                          "batch batch")
            .orderBy("doc_id"))


@query("search_fuzzy", oracle=r"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(
               lower(trim(text)), '[ \t\n\r\f\x0B]+'),
               t -> length(t) > 0)) AS term
      FROM documents),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
              FROM tok GROUP BY term),
    qs AS (
      SELECT DISTINCT q FROM (
        SELECT term || 'x' AS q FROM vocab
        WHERE length(term) >= 3
        UNION
        SELECT substr(term, 1, length(term) - 1) FROM vocab
        WHERE length(term) >= 3)),
    cand AS (
      SELECT qs.q AS query, v.term,
             CAST(levenshtein(qs.q, v.term) AS BIGINT)
               AS distance,
             v.freq
      FROM qs JOIN vocab v
        ON levenshtein(qs.q, v.term) <= 1),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query
        ORDER BY distance, freq DESC, term) AS rn
      FROM cand)
    SELECT query, term, distance, freq
    FROM ranked WHERE rn = 1 ORDER BY query""")
def _q_search_fuzzy(spark, sf_dir):
    """SymSpell edit-distance-1 lookup: vocab = corpus tokens with
    frequency; queries = deterministic typos (append 'x' / drop last
    char) of every token of length >= 3.  The oracle verifies via a
    plain levenshtein cross join — tiny at test scale, which is the
    point: the delete-key join must agree exactly with the naive
    quadratic definition."""
    d = _read(spark, sf_dir, "documents")
    tok = (d.select(F.explode(F.filter(tokens(F.col("text")),
                                       lambda s: s != ""))
                    .alias("term")))
    vocab = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("freq"))
    base = vocab.where(F.length("term") >= 3)
    qs = (base.select(F.concat(F.col("term"), F.lit("x"))
                      .alias("query"))
          .unionByName(base.select(
              F.expr("substr(term, 1, length(term) - 1)")
              .alias("query")))
          .distinct())
    return (fuzzy_lookup(vocab, qs).orderBy("query"))


@query("search_more_like_this", oracle="""
    WITH posting AS (
      SELECT doc_id, unnest(['alpha' || (doc_id % 137),
                             'beta' || (doc_id % 25),
                             'commonword']) AS term
      FROM documents),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM posting GROUP BY term
            HAVING COUNT(*) <= 60),
    p2 AS (SELECT posting.doc_id, posting.term, dfq.df
           FROM posting JOIN dfq USING (term)),
    seeds AS (SELECT doc_id AS seed_id, term FROM p2
              WHERE doc_id % 100 = 0),
    pairs AS (
      SELECT s.seed_id, p.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             CAST(SUM(1000000 // p.df) AS BIGINT)
               AS score_micro
      FROM seeds s JOIN p2 p USING (term)
      WHERE p.doc_id <> s.seed_id
      GROUP BY s.seed_id, p.doc_id),
    r AS (
      SELECT *,
             CAST(row_number() OVER (
               PARTITION BY seed_id
               ORDER BY score_micro DESC, doc_id) AS BIGINT)
               AS rank
      FROM pairs)
    SELECT seed_id, doc_id, n_shared_terms, score_micro,
           rank
    FROM r WHERE rank <= 5 ORDER BY seed_id, rank""")
def _q_search_more_like_this(spark, sf_dir):
    """More-like-this over planted vocab docs (a rare token shared
    by ~4 docs, a cluster token shared by ~20, a near-universal
    token dropped by the max_df cap); seeds are every 100th doc."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.concat(
        F.lit("alpha"), (did % 137).cast("string"),
        F.lit(" beta"), (did % 25).cast("string"),
        F.lit(" commonword"))
    docs = d.select("doc_id", text.alias("text"))
    seeds = d.where(did % 100 == 0).select("doc_id")
    return (more_like_this(docs, seeds, max_df=60, top_k=5)
            .orderBy("seed_id", "rank"))


@query("search_rrf_fusion", oracle="""
    WITH needs(query, term) AS (VALUES
      ('need0', 'spark'), ('need0', 'merge'),
      ('need1', 'window'), ('need1', 'sort')),
    tf0 AS (
      SELECT n.query, CAST(d.doc_id AS VARCHAR) AS item,
             CAST(len(string_split(lower(d.text), n.term))
                  - 1 AS BIGINT) AS tf
      FROM documents d, needs n),
    s AS (SELECT query, item, SUM(tf) AS score
          FROM tf0 GROUP BY query, item
          HAVING SUM(tf) > 0),
    tfr AS (
      SELECT query, item,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query
               ORDER BY score DESC, item) AS BIGINT) AS rank
      FROM s),
    tfq AS (SELECT * FROM tfr WHERE rank <= 20),
    fr AS (
      SELECT item, rank FROM (
        SELECT CAST(doc_id AS VARCHAR) AS item,
               CAST(ROW_NUMBER() OVER (ORDER BY doc_id DESC)
                    AS BIGINT) AS rank
        FROM documents) WHERE rank <= 20),
    freshq AS (
      SELECT q.query, fr.item, fr.rank
      FROM (SELECT DISTINCT query FROM needs) q, fr),
    all_r AS (
      SELECT query, item, rank FROM tfq
      UNION ALL SELECT query, item, rank FROM freshq),
    sc2 AS (
      SELECT query, item,
             CAST(COUNT(*) AS BIGINT) AS n_rankings,
             CAST(SUM(1000000 // (60 + rank)) AS BIGINT)
               AS rrf_micro
      FROM all_r GROUP BY query, item),
    fin AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query
               ORDER BY rrf_micro DESC, item) AS BIGINT)
               AS rank
      FROM sc2)
    SELECT query, item, n_rankings, rrf_micro, rank
    FROM fin WHERE rank <= 10 ORDER BY query, rank""")
def _q_search_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two heterogeneous rankers (keyterm
    tf ranking + query-independent freshness ranking) — integer
    1e6/(60+rank) contributions, oracle replays both rankers and
    the fusion."""
    needs = spark.createDataFrame(
        [("need0", "spark"), ("need0", "merge"),
         ("need1", "window"), ("need1", "sort")],
        "query string, term string")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (ranked_set_baseline(docs, needs, limit=20)
          .select("query", "item", "rank"))
    wq = Window.orderBy(F.col("doc_id").desc())
    fresh_items = (docs.select("doc_id")
                   .withColumn("rank",
                               F.row_number().over(wq).cast("long"))
                   .where(F.col("rank") <= 20)
                   .select(F.col("doc_id").cast("string")
                           .alias("item"), "rank"))
    fresh = (needs.select("query").distinct()
             .crossJoin(F.broadcast(fresh_items)))
    rankings = (tf.withColumn("ranking", F.lit("tf"))
                .unionByName(fresh.withColumn("ranking",
                                              F.lit("fresh"))))
    return (rrf_fusion(rankings, k=60, top_k=10)
            .orderBy("query", "rank"))


# the bm25 CTE chain (limit 50) + site join + collapse
@query("search_collapse", oracle=r"""
    WITH needs(query, term) AS (VALUES
      ('q_spark', 'spark'), ('q_spark', 'window'),
      ('q_cust', 'customer'), ('q_cust', 'join'),
      ('q_vec', 'vector'), ('q_vec', 'merge'),
      ('q_vec', 'batch')),
    dk AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    d AS (SELECT doc_id, tk, len(tk) AS dl FROM dk),
    st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl
           FROM d),
    tdist AS (SELECT DISTINCT term FROM needs),
    tf AS (
      SELECT doc_id, dl, term,
             len(list_filter(tk, x -> x = term)) AS tf
      FROM d CROSS JOIN tdist
      WHERE len(list_filter(tk, x -> x = term)) > 0),
    dft AS (SELECT term, COUNT(*) AS df FROM tf
            GROUP BY term),
    sc AS (
      SELECT doc_id, term,
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
      FROM tf JOIN dft USING (term) CROSS JOIN st),
    pq AS (
      SELECT n.query, CAST(sc.doc_id AS VARCHAR) AS item,
             round(SUM(sc.s), 6) AS score
      FROM sc JOIN needs n USING (term)
      GROUP BY n.query, item),
    rk AS (
      SELECT query, item, score,
             ROW_NUMBER() OVER (PARTITION BY query
               ORDER BY score DESC, item) AS rank
      FROM pq),
    base AS (SELECT query, item, score FROM rk
             WHERE rank <= 50),
    sites AS (SELECT CAST(doc_id AS VARCHAR) AS item,
                     source AS site
              FROM documents),
    j AS (SELECT b.query, b.item, s.site, b.score
          FROM base b JOIN sites s USING (item)),
    m AS (SELECT query, item, site, score,
                 row_number() OVER (PARTITION BY query, site
                   ORDER BY score DESC, item) AS gr,
                 CAST(COUNT(*) OVER (PARTITION BY query, site)
                      AS BIGINT) AS n_site_results
          FROM j)
    SELECT query, item, site,
           CAST(row_number() OVER (PARTITION BY query
             ORDER BY score DESC, item) AS INT) AS rank,
           score, n_site_results
    FROM m WHERE gr <= 1 ORDER BY query, rank""")
def _q_search_collapse(spark, sf_dir):
    """Field-collapsed SERP: BM25 top-50 per query, then one result
    per site (source) with re-ranking and the site's original result
    count — the one-per-domain rule."""
    needs = spark.createDataFrame(
        [("q_spark", "spark"), ("q_spark", "window"),
         ("q_cust", "customer"), ("q_cust", "join"),
         ("q_vec", "vector"), ("q_vec", "merge"), ("q_vec", "batch")],
        "query string, term string")
    d = _read(spark, sf_dir, "documents")
    results = bm25_rank(d, needs, limit=50)
    sites = d.select(F.col("doc_id").cast("string").alias("item"),
                     F.col("source").alias("site"))
    return (collapse_results(results, sites, k=1)
            .orderBy("query", "rank"))
