"""Exact, near-duplicate and span dedup queries (``dedup_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.cleaning import best_capture
from ferenda_spark.operators.dedup import (cdc_chunks, cluster_representatives,
                                           containment_pairs, dup_clusters,
                                           edit_verified_pairs,
                                           er_pairwise_eval, exact_duplicates,
                                           meta_blocking_pairs,
                                           minhash_band_pairs,
                                           minhash_estimated_jaccard,
                                           minhash_incremental_matches,
                                           ngram_jaccard_pairs,
                                           paragraph_dedup,
                                           remove_repeated_spans,
                                           repeated_spans, simhash, tokens)
from ferenda_spark.operators.linking import sorted_neighborhood_pairs
from ferenda_spark.operators.similarity import (embedding_near_dupes,
                                                one_hot_centroids,
                                                semantic_dedup,
                                                semdedup_embeddings)
from ferenda_spark.operators.sketches import bloom_bits, bloom_probe
from ferenda_spark.registry import query
from ferenda_spark.registry.common import (_EMB_CTE, _F_CTE, _MINHASH_CTE,
                                           _SH_CTE, _TOKS_CTE, _read,
                                           _sign_bands_sql)


_CDC_TAIL = (" shared passage number %s of the corpus boilerplate "
             "that repeats across documents verbatim and keeps "
             "repeating until a content cut lands inside it")


def _simhash_sql() -> str:
    """16-bit SimHash mirrored bit-by-bit from dedup.simhash."""
    terms = " + ".join(
        "(CASE WHEN SUM(CASE WHEN (h>>%d)&1=1 THEN 1 ELSE -1 END) > 0 "
        "THEN %d ELSE 0 END)" % (b, 1 << b) for b in range(16))
    return ("WITH " + _TOKS_CTE + r""",
tok AS (
  SELECT DISTINCT doc_id, u.tk FROM toks, unnest(t) AS u(tk)
  WHERE length(u.tk) > 0
),
h AS (
  SELECT doc_id,
         (length(tk)*7 + ascii(substr(tk, 1, 1))*13
          + ascii(substr(tk, length(tk), 1))*31) % 65536 AS h
  FROM tok
)
SELECT doc_id, CAST(""" + terms + """ AS BIGINT) AS simhash
FROM h GROUP BY doc_id""")


@query("dedup_exact", oracle="""
    SELECT md5(substr(text, 1, 40)) AS text_md5,
           COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
    FROM documents GROUP BY 1""")
def _q_dedup_exact(spark, sf_dir):
    return exact_duplicates(_read(spark, sf_dir, "documents"))


@query("dedup_minhash_pairs", oracle="WITH " + _MINHASH_CTE + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket
     AND a.doc_id < b.doc_id""")
def _q_dedup_minhash_pairs(spark, sf_dir):
    return minhash_band_pairs(_read(spark, sf_dir, "documents"),
                              n=3, num_hashes=8, band_size=2)


# transitive closure over the pair graph (recursive CTE;
# DuckDB's UNION-dedup in recursive CTEs guarantees
# termination), canonical = min reachable doc id
@query("dedup_minhash_clusters", oracle="WITH RECURSIVE " + _MINHASH_CTE + """,
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    e AS (SELECT doc_a AS a, doc_b AS b FROM prs
          UNION SELECT doc_b, doc_a FROM prs),
    reach AS (
      SELECT a AS v, a AS u FROM e
      UNION
      SELECT r.v, e.b FROM reach r JOIN e ON r.u = e.a)
    SELECT v AS doc_id, MIN(u) AS canonical_doc_id
    FROM reach GROUP BY v""")
def _q_dedup_minhash_clusters(spark, sf_dir):
    """Dedup pipeline completion: candidate pairs -> transitive
    duplicate clusters with a canonical representative per cluster
    (min doc id) — pairs alone under-deduplicate when A~B and B~C but
    A,C never share a bucket.  Oracle: recursive-CTE reachability over
    the same pair graph."""
    pairs = minhash_band_pairs(_read(spark, sf_dir, "documents"),
                               n=3, num_hashes=8, band_size=2)
    return dup_clusters(pairs)


# window-hash exact-substring dedup: 4-token windows, hashes
# in >=2 distinct docs, overlapping windows merged into
# maximal spans (gap > window opens a new island)
@query("dedup_repeated_spans", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    idx AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, greatest(len(tk)-3, 0)))
               AS i
      FROM toks),
    wins AS (
      SELECT doc_id, i AS start,
             md5(array_to_string(tk[i:i+3], ' ')) AS h
      FROM idx),
    dup AS (SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, start FROM wins
             WHERE h IN (SELECT h FROM dup)),
    brk AS (
      SELECT doc_id, start,
             CASE WHEN lag(start) OVER w IS NULL
                  OR start - lag(start) OVER w > 4
                  THEN 1 ELSE 0 END AS b
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
    isl AS (
      SELECT doc_id, start,
             SUM(b) OVER (PARTITION BY doc_id
                          ORDER BY start) AS island
      FROM brk)
    SELECT doc_id, min(start) AS span_start,
           max(start) + 3 AS span_end, COUNT(*) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start""")
def _q_dedup_spans(spark, sf_dir):
    """Cross-document exact-substring duplicate spans (Lee et al. 2022
    suffix-array dedup in its distributable window-hash form): hash
    every 4-token window map-side, ONE |tokens|-shuffle groupBy finds
    hashes in >= 2 docs, positions semi-join the (small, AQE-broadcast)
    duplicated-hash set, and overlapping windows merge into maximal
    spans per doc via a doc-partitioned gaps-and-islands window."""
    sp = repeated_spans(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        window=4, min_docs=2)
    return (sp.select("doc_id",
                      F.col("span_start").cast("long").alias("span_start"),
                      F.col("span_end").cast("long").alias("span_end"),
                      "n_windows")
            .orderBy("doc_id", "span_start"))


# same spans pipeline, then cut covered tokens and rebuild
# the text token-level (whitespace runs collapse — the
# token-dedup contract); docs with nothing cut pass through
@query("dedup_span_removed", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    idx AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, greatest(len(tk)-3, 0)))
               AS i
      FROM toks),
    wins AS (
      SELECT doc_id, i AS start,
             md5(array_to_string(tk[i:i+3], ' ')) AS h
      FROM idx),
    dup AS (SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, start FROM wins
             WHERE h IN (SELECT h FROM dup)),
    brk AS (
      SELECT doc_id, start,
             CASE WHEN lag(start) OVER w IS NULL
                  OR start - lag(start) OVER w > 4
                  THEN 1 ELSE 0 END AS b
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
    isl AS (
      SELECT doc_id, start,
             SUM(b) OVER (PARTITION BY doc_id
                          ORDER BY start) AS island
      FROM brk),
    spans AS (
      SELECT doc_id, min(start) AS s, max(start) + 3 AS e
      FROM isl GROUP BY doc_id, island),
    pos AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, len(tk))) AS i
      FROM toks),
    kept AS (
      SELECT p.doc_id, p.i, p.tk[p.i] AS tok
      FROM pos p
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = p.doc_id AND p.i BETWEEN s.s AND s.e))
    SELECT t.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           len(t.tk) - coalesce(k.n, 0) AS n_removed
    FROM toks t LEFT JOIN (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY i) AS clean_text,
             COUNT(*) AS n
      FROM kept GROUP BY doc_id) k USING (doc_id)
    ORDER BY t.doc_id""")
def _q_dedup_span_removed(spark, sf_dir):
    """The dedup TRANSFORM: every token covered by a cross-document
    duplicated span is cut, text rebuilt token-level in one JVM
    higher-order-function pass (per-doc span lists are small structs —
    no extra shuffle beyond repeated_spans' own)."""
    out = remove_repeated_spans(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        window=4, min_docs=2)
    return (out.select("doc_id", "clean_text",
                       F.col("n_removed").cast("long").alias("n_removed"))
            .orderBy("doc_id"))


# signatures are per-doc, so bucketing all docs then splitting
# equals bucketing each side separately
@query("dedup_incremental", oracle="WITH " + _MINHASH_CTE + """
    SELECT DISTINCT n.doc_id AS new_doc, b.doc_id AS base_doc
    FROM banded n JOIN banded b
      ON n.band = b.band AND n.bucket = b.bucket
    WHERE n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    ORDER BY new_doc, base_doc""")
def _q_dedup_incremental(spark, sf_dir):
    """Incremental dedup: the doc_id%5==0 slice plays the incoming
    crawl batch, the rest the committed base corpus — batch band
    buckets equi-join the base signature table on (band, bucket);
    a new doc with no match is novel."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 5 == 0)
    base = d.where(F.col("doc_id") % 5 != 0)
    return (minhash_incremental_matches(batch, base,
                                        n=3, num_hashes=8, band_size=2)
            .orderBy("new_doc", "base_doc"))


# LSH candidates verified by exact normalized Levenshtein;
# both-empty pairs define sim = 1.0
@query("dedup_edit_verified", oracle="WITH " + _MINHASH_CTE + """,
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    v AS (
      SELECT p.doc_a, p.doc_b,
             levenshtein(da.text, db.text) AS edit_dist,
             CASE WHEN greatest(length(da.text),
                                length(db.text)) = 0 THEN 1.0
                  ELSE round(1.0 - levenshtein(da.text, db.text)
                             * 1.0 / greatest(length(da.text),
                                              length(db.text)), 6)
             END AS edit_sim
      FROM prs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b)
    SELECT doc_a, doc_b, edit_dist, edit_sim FROM v
    WHERE edit_sim >= 0.8 ORDER BY doc_a, doc_b""")
def _q_dedup_edit_verified(spark, sf_dir):
    """Candidate verification: LSH-banded pairs confirmed by exact
    normalized Levenshtein (>= 0.8), rejecting banding's collision
    false positives before clustering merges distinct docs.  Text
    shuffles only for the candidate set; the O(len^2) kernel runs
    JVM-side per pair."""
    return (edit_verified_pairs(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        n=3, num_hashes=8, band_size=2, min_sim=0.8)
        .orderBy("doc_a", "doc_b"))


# estimated Jaccard = agreeing minhash components / 8
@query("dedup_minhash_estimate", oracle="WITH " + _MINHASH_CTE + """,
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    agg AS (
      SELECT p.doc_a, p.doc_b,
             CAST(SUM(CASE WHEN sa.minhash = sb.minhash
                      THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM prs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
                 AND sb.seed = sa.seed
      GROUP BY p.doc_a, p.doc_b)
    SELECT doc_a, doc_b, n_agree,
           CAST(n_agree * 1000000 // 8 AS BIGINT)
             AS est_jaccard_ppm
    FROM agg ORDER BY doc_a, doc_b""")
def _q_dedup_minhash_estimate(spark, sf_dir):
    """Signature-only candidate verification: estimated Jaccard =
    fraction of agreeing minhash components — the cheap middle tier
    between banding and exact edit distance; text never shuffles."""
    return (minhash_estimated_jaccard(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_a", "doc_b"))


@query("dedup_jaccard_pairs", oracle="WITH " + _SH_CTE + """,
            -- hot-shingle skew guard (max_shingle_freq=100), mirroring
            -- ngram_jaccard_pairs' guard-on invocation
            shg AS (
              SELECT * FROM sh WHERE shingle NOT IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) > 100)),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM shg GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS n_common
              FROM shg a JOIN shg b ON a.shingle = b.shingle
               AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            j AS (
              SELECT doc_a, doc_b, n_common,
                     CAST(n_common AS DOUBLE)
                       / (sa.n + sb.n - n_common) AS jaccard
              FROM common JOIN sizes sa ON sa.doc_id = doc_a
                          JOIN sizes sb ON sb.doc_id = doc_b)
            SELECT * FROM j WHERE jaccard >= 0.1""")
def _q_dedup_jaccard_pairs(spark, sf_dir):
    """Shingle-join Jaccard dedup WITH the hot-shingle skew guard on
    (r1 ran it guard-off — quadratic on hot shingles at scale):
    shingles occurring in > 100 docs are dropped before the self-join,
    mirrored in the oracle CTE."""
    return ngram_jaccard_pairs(_read(spark, sf_dir, "documents"),
                               n=3, threshold=0.1, max_shingle_freq=100)


# Containment: excerpt corpus, 3-gram shingles, hot guard,
# per-direction denominator = the GUARDED source size
@query("dedup_containment", oracle=r"""
            WITH exc AS (
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(
                       string_split_regex(lower(trim(text)),
                         '[ 	

]+')[1:10], ' ') AS text
              FROM documents WHERE doc_id % 5 = 0),
            corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM exc),
            toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)),
                     '[ 	

]+') AS t
              FROM corpus),
            idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t)-2, 1)))
                       AS i
              FROM toks),
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE length(array_to_string(t[i:i+2], ' ')) > 0),
            shg AS (
              SELECT * FROM sh WHERE shingle NOT IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) > 100)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shg
                      GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     COUNT(*) AS n_common
              FROM shg a JOIN shg b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            directed AS (
              SELECT da AS doc_a, db AS doc_b, n_common FROM common
              UNION ALL SELECT db, da, n_common FROM common)
            SELECT d.doc_a, d.doc_b, d.n_common,
                   round(d.n_common / CAST(s.sz AS DOUBLE), 6)
                     AS containment
            FROM directed d JOIN sizes s ON d.doc_a = s.doc_id
            WHERE round(d.n_common / CAST(s.sz AS DOUBLE), 6) >= 0.8
            ORDER BY doc_a, doc_b""")
def _q_dedup_containment(spark, sf_dir):
    """Asymmetric shingle containment over the corpus plus planted
    10-token excerpts of every 5th doc: the excerpt's 3-gram set is a
    subset of its source's, so c(excerpt -> source) = 1.0 while the
    reverse (and plain Jaccard) stays tiny — the quote/subset dedup
    rule.  Threshold 0.8; hot-shingle guard (>100 docs) mirrored in
    the oracle."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    exc = (d.where(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"),
                   F.array_join(F.slice(tokens(F.col("text")), 1, 10),
                                " ").alias("text")))
    return (containment_pairs(d.unionByName(exc), n=3, threshold=0.8)
            .orderBy("doc_a", "doc_b"))


# Meta-blocking: 2-gram blocks, purge at 2..20, CBS weights,
# weighted node pruning on mean incident weight (exact avg:
# sum-of-longs / count, one IEEE division per node)
@query("dedup_meta_blocking", oracle="WITH " + _TOKS_CTE + r""",
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t)-1, 1)))
               AS i
      FROM toks),
    b AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[i:i+1], ' ') AS bkey
      FROM idx
      WHERE length(array_to_string(t[i:i+1], ' ')) > 0),
    ok AS (SELECT bkey FROM b GROUP BY bkey
           HAVING COUNT(*) BETWEEN 2 AND 20),
    kb AS (SELECT b.doc_id, b.bkey FROM b JOIN ok USING (bkey)),
    ps AS (
      SELECT x.doc_id AS a, y.doc_id AS b2, COUNT(*) AS cbs
      FROM kb x JOIN kb y
        ON x.bkey = y.bkey AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    inc AS (SELECT a AS node, cbs FROM ps
            UNION ALL SELECT b2, cbs FROM ps),
    means AS (SELECT node, AVG(cbs) AS thr FROM inc
              GROUP BY node)
    SELECT ps.a AS doc_a, ps.b2 AS doc_b, ps.cbs
    FROM ps JOIN means ma ON ps.a = ma.node
            JOIN means mb ON ps.b2 = mb.node
    WHERE ps.cbs >= ma.thr OR ps.cbs >= mb.thr
    ORDER BY ps.cbs DESC, doc_a, doc_b LIMIT 500""")
def _q_dedup_meta_blocking(spark, sf_dir):
    """Meta-blocking (Papadakis TKDE 2014): word-2-gram token
    blocking, block purging at size 20 (the hot-key guard), CBS edge
    weights via the bounded in-block self-join, weighted node pruning
    (keep a pair iff its shared-block count reaches the mean incident
    weight of either endpoint) — the comparison-graph pruner that
    runs BEFORE any expensive ER matcher.  Top 500 by (cbs, pair) is
    a TakeOrdered."""
    return (meta_blocking_pairs(_read(spark, sf_dir, "documents"),
                                n=2, max_block=20)
            .orderBy(F.col("cbs").desc(), "doc_a", "doc_b")
            .limit(500))


@query("dedup_simhash", oracle=_simhash_sql())
def _q_dedup_simhash(spark, sf_dir):
    return simhash(_read(spark, sf_dir, "documents"))


# newest capture per canonical URL; canonical form stated in
# closed form from doc_id (id param mod 10 -> collisions)
@query("dedup_url_recrawl", oracle="""
    WITH c AS (
      SELECT doc_id,
             'https://host' || (doc_id % 4) || '.example.org/p'
             || (doc_id % 7) || '?id=' || (doc_id % 10)
               AS canonical_url,
             CAST(DATE '2024-01-01'
                  + CAST((doc_id * 13) % 97 AS INT)
                  AS TIMESTAMP) AS warc_ts
      FROM documents),
    best AS (
      SELECT doc_id, canonical_url, warc_ts,
             ROW_NUMBER() OVER (
               PARTITION BY canonical_url
               ORDER BY warc_ts DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY canonical_url)
               AS n_captures
      FROM c)
    SELECT canonical_url, n_captures, doc_id, warc_ts
    FROM best WHERE rn = 1 ORDER BY canonical_url""")
def _q_dedup_url_recrawl(spark, sf_dir):
    """Recrawl dedup: messy URLs planted so ~3.5 docs share each
    canonical URL (id param mod 10 instead of url_canonical's mod 50),
    capture timestamps in closed form from doc_id; keep the newest
    capture per canonical URL via the two-phase bucketed k=1 cap."""
    did = F.col("doc_id")
    messy = F.concat(
        F.lit("https://WWW.Host"), (did % 4).cast("string"),
        F.lit(".Example.org:443//p"), (did % 7).cast("string"),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&id="), (did % 10).cast("string"),
        F.lit("&gclid=g"),
        F.when(did % 2 == 0, F.lit("#sec")).otherwise(F.lit("")))
    pages = (_read(spark, sf_dir, "documents")
             .select("doc_id", messy.alias("url"),
                     F.to_timestamp(F.date_add(
                         F.lit("2024-01-01").cast("date"),
                         ((did * 13) % 97).cast("int")))
                     .alias("warc_ts")))
    return best_capture(pages).orderBy("canonical_url")


@query("dedup_semantic", oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, CAST(vec_id % 4 AS INT) AS cl,
             CAST(list_value(0.0, 0.25, 0.5, 1.0, 2.0)
               [CAST((vec_id // 4) % 5 AS INT) + 1]
               AS DOUBLE) AS t
      FROM embeddings),
    prs AS (
      SELECT a.vec_id AS x, b.vec_id AS y
      FROM v a JOIN v b
        ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE round((1.0 + a.t * b.t)
                  / (sqrt(1.0 + a.t * a.t)
                     * sqrt(1.0 + b.t * b.t)), 6) >= 0.96),
    g AS (SELECT x, y FROM prs UNION SELECT y, x FROM prs),
    reach AS (
      SELECT x AS v, x AS u FROM g
      UNION
      SELECT r.v, g.y FROM reach r JOIN g ON r.u = g.x),
    comp AS (SELECT v AS vec_id, MIN(u) AS component_id
             FROM reach GROUP BY v),
    base AS (
      SELECT v.vec_id, v.cl,
             round(1.0 / sqrt(1.0 + v.t * v.t), 6)
               AS centroid_cos_r,
             COALESCE(c.component_id, v.vec_id) AS component_id
      FROM v LEFT JOIN comp c USING (vec_id))
    SELECT vec_id, cl, centroid_cos_r, component_id,
           vec_id = FIRST_VALUE(vec_id) OVER (
             PARTITION BY component_id
             ORDER BY centroid_cos_r, vec_id) AS keep
    FROM base ORDER BY vec_id""")
def _q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup with the
    candidate set bounded by k-means clusters instead of LSH bands —
    map-side centroid assignment, within-cluster cosine pairs,
    hash-min components, keep the member farthest from its centroid.
    Corpus: closed-form graded-tilt clusters (semdedup_embeddings)
    with exact rational/sqrt pair cosines so the 0.96 threshold
    provably splits each cluster into a 3-tilt chain plus two
    singleton-tilt groups, and the quantizer is the true one-hot
    centroid set (the offline-trained model a production run loads).
    Reference analogue: owl:sameAs keep-one canonicalization
    (SURVEY.md T11) applied in embedding space."""
    corpus = semdedup_embeddings(
        _read(spark, sf_dir, "embeddings").select("vec_id"))
    return (semantic_dedup(corpus, one_hot_centroids(), threshold=0.96)
            .orderBy("vec_id"))


@query("dedup_embedding", oracle="WITH " + _EMB_CTE + """,
    b AS MATERIALIZED (""" + _sign_bands_sql("raw", 16, 4) + """),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.bucket = b2.bucket
       AND a.vec_id < b2.vec_id)
    SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine_r
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35""")
def _q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by banded sign-LSH
    (16 bits x 4 bands: 65k buckets per band — scale-proof occupancy —
    with the OR over bands recovering recall)."""
    return embedding_near_dupes(_read(spark, sf_dir, "embeddings"),
                                threshold=0.35,
                                bits_per_band=16, n_bands=4)


@query("dedup_embedding_clusters", oracle=(
    "WITH RECURSIVE " + _EMB_CTE + """,
    b AS MATERIALIZED (""" + _sign_bands_sql("raw", 16, 4) + """),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.bucket = b2.bucket
       AND a.vec_id < b2.vec_id),
    prs AS (
      SELECT c.vec_a, c.vec_b FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b
      WHERE round(list_cosine_similarity(ea.v, eb.v), 6)
            >= 0.35),
    g AS (SELECT vec_a AS a, vec_b AS b FROM prs
          UNION SELECT vec_b, vec_a FROM prs),
    reach AS (
      SELECT a AS v, a AS u FROM g
      UNION
      SELECT r.v, g.b FROM reach r JOIN g ON r.u = g.a)
    SELECT v AS vec_id, MIN(u) AS canonical_vec_id
    FROM reach GROUP BY v ORDER BY vec_id"""))
def _q_dedup_embedding_clusters(spark, sf_dir):
    """Embedding near-dup pipeline completion: cosine pairs ->
    transitive clusters with the min-id canonical representative
    (same hash-min CC fixpoint as the sameAs canonicalization)."""
    pairs = embedding_near_dupes(_read(spark, sf_dir, "embeddings"),
                                 threshold=0.35,
                                 bits_per_band=16, n_bands=4)
    return (dup_clusters(pairs, id_a="vec_a", id_b="vec_b")
            .select(F.col("doc_id").alias("vec_id"),
                    F.col("canonical_doc_id").alias("canonical_vec_id"))
            .orderBy("vec_id"))


# multi-pass sorted-neighborhood: window 4, 4-char blocks
@query("dedup_sorted_neighborhood", oracle="""
    WITH k1 AS (
      SELECT doc_id AS rid,
             substr(regexp_replace(lower(trim(text)),
                    '[^a-z0-9]', '', 'g'), 1, 16) AS k
      FROM documents),
    k2 AS (
      SELECT doc_id AS rid,
             lang || '|' || lpad(CAST(n_chars AS VARCHAR), 8,
                                 '0') AS k
      FROM documents),
    r1 AS (
      SELECT rid, substr(k, 1, 4) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(k, 1, 4)
               ORDER BY k, rid) AS rk
      FROM k1 WHERE k IS NOT NULL),
    r2 AS (
      SELECT rid, substr(k, 1, 4) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(k, 1, 4)
               ORDER BY k, rid) AS rk
      FROM k2 WHERE k IS NOT NULL),
    p AS (
      SELECT DISTINCT least(a.rid, b.rid) AS id_a,
             greatest(a.rid, b.rid) AS id_b, 'text' AS pass
      FROM r1 a JOIN r1 b
        ON a.blk = b.blk AND b.rk BETWEEN a.rk + 1 AND a.rk + 3
      UNION
      SELECT DISTINCT least(a.rid, b.rid),
             greatest(a.rid, b.rid), 'size'
      FROM r2 a JOIN r2 b
        ON a.blk = b.blk AND b.rk BETWEEN a.rk + 1 AND a.rk + 3)
    SELECT id_a, id_b,
           CAST(COUNT(DISTINCT pass) AS BIGINT) AS n_passes
    FROM p GROUP BY id_a, id_b ORDER BY id_a, id_b""")
def _q_sorted_neighborhood(spark, sf_dir):
    """Multi-pass sorted-neighborhood ER blocking (Hernandez &
    Stolfo): pass 1 sorts on a normalized text prefix, pass 2 on
    (lang, zero-padded length) — block-partitioned rank windows, so
    no global sort; candidate pairing is an equi-join on
    (block, rank + j)."""
    d = _read(spark, sf_dir, "documents")
    key_text = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))),
                         "[^a-z0-9]", ""), 1, 16)
    key_size = F.concat(F.col("lang"), F.lit("|"),
                        F.lpad(F.col("n_chars").cast("string"), 8, "0"))
    return (sorted_neighborhood_pairs(
        d, [("text", key_text), ("size", key_size)],
        window=4, block_chars=4)
        .orderBy("id_a", "id_b"))


# Bloom probe: bits from even docs, probes = odd docs;
# UNION ALL keeps per-hash multiplicity (mirrors the operator)
@query("dedup_bloom_probe", oracle="WITH " + _F_CTE + """,
    seen AS (SELECT url FROM f WHERE doc_id % 2 = 0),
    probe AS (SELECT url FROM f WHERE doc_id % 2 = 1),
    bits AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('bloom' || i
               || ':' || url), 1, 8)) AS BIGINT) % 4096 AS bit
      FROM seen, (SELECT unnest(generate_series(0, 2)) AS i)),
    pr AS (
      SELECT url, CAST(('0x' || substr(md5('bloom' || i || ':'
               || url), 1, 8)) AS BIGINT) % 4096 AS bit
      FROM probe, (SELECT unnest(generate_series(0, 2)) AS i)),
    hits AS (
      SELECT pr.url, COUNT(*) AS n_set
      FROM pr WHERE EXISTS (SELECT 1 FROM bits
                            WHERE bits.bit = pr.bit)
      GROUP BY pr.url)
    SELECT p.url, COALESCE(h.n_set, 0) = 3 AS maybe_seen
    FROM probe p LEFT JOIN hits h ON p.url = h.url
    ORDER BY p.url""")
def _q_bloom_probe(spark, sf_dir):
    """Have-I-crawled-this membership: Bloom bits built from the
    even-doc URLs (k=3, m=4096), odd-doc URLs probed — never a false
    negative; false positives at the standard rate, deterministically
    reproduced by the oracle."""
    d = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 10 < 3,
               F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"), F.col("doc_id"))
    seen = d.where(F.col("doc_id") % 2 == 0).select(url.alias("url"))
    probe = d.where(F.col("doc_id") % 2 == 1).select(url.alias("url"))
    bits = bloom_bits(seen, "url", k=3, m=4096)
    return bloom_probe(bits, probe, "url", k=3, m=4096).orderBy("url")


# mirrors the pairwise-eval computation join for join
@query("dedup_er_eval", oracle="""
    WITH gold AS (
      SELECT doc_id AS item,
             CAST(doc_id // 4 AS VARCHAR) AS cluster
      FROM documents),
    pred AS (
      SELECT doc_id AS item,
             CASE WHEN doc_id % 16 = 3 THEN 's' || doc_id
                  ELSE CAST(doc_id // 4 AS VARCHAR) END
               AS cluster
      FROM documents),
    pp AS (SELECT a.item AS a, b.item AS b
           FROM pred a JOIN pred b
             ON a.cluster = b.cluster AND a.item < b.item),
    gp AS (SELECT a.item AS a, b.item AS b
           FROM gold a JOIN gold b
             ON a.cluster = b.cluster AND a.item < b.item),
    c AS (SELECT
            CAST((SELECT COUNT(*) FROM pp JOIN gp
                  USING (a, b)) AS BIGINT) AS tp,
            CAST((SELECT COUNT(*) FROM pp) AS BIGINT)
              AS n_pred,
            CAST((SELECT COUNT(*) FROM gp) AS BIGINT)
              AS n_gold),
    m AS (SELECT tp, n_pred - tp AS fp, n_gold - tp AS fn,
                 CASE WHEN n_pred > 0 THEN tp / n_pred
                      ELSE 0.0 END AS precision,
                 CASE WHEN n_gold > 0 THEN tp / n_gold
                      ELSE 0.0 END AS recall
          FROM c)
    SELECT tp, fp, fn, precision, recall,
           CASE WHEN precision + recall > 0
                THEN 2 * precision * recall
                     / (precision + recall)
                ELSE 0.0 END AS f1
    FROM m""")
def _q_er_eval(spark, sf_dir):
    """Pairwise ER evaluation: gold clusters = doc_id div 4; the
    prediction breaks every 16th doc out into a singleton — the
    oracle mirrors the pair-join computation, so tp/fp/fn and the
    P/R/F1 doubles must agree bit-exactly."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.expr("doc_id div 4").cast("string")
    gold = d.select(did.alias("item"), base.alias("cluster"))
    pred = d.select(
        did.alias("item"),
        F.when(did % 16 == 3,
               F.concat(F.lit("s"), did.cast("string")))
        .otherwise(base).alias("cluster"))
    return er_pairwise_eval(pred, gold)


# keep-one per MinHash dup cluster: quality = n_chars desc,
# ties -> lowest doc_id
@query("dedup_cluster_keep", oracle="WITH RECURSIVE " + _MINHASH_CTE + """,
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    e AS (SELECT doc_a AS a, doc_b AS b FROM prs
          UNION SELECT doc_b, doc_a FROM prs),
    reach AS (
      SELECT a AS v, a AS u FROM e
      UNION
      SELECT r.v, e.b FROM reach r JOIN e ON r.u = e.a),
    cl AS (
      SELECT v AS doc_id, MIN(u) AS cluster_id
      FROM reach GROUP BY v),
    m AS (
      SELECT cl.cluster_id, cl.doc_id,
             CAST(d.n_chars AS BIGINT) AS quality,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
               ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk
      FROM cl JOIN documents d USING (doc_id))
    SELECT cluster_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END)
             AS kept_doc_id,
           MAX(CASE WHEN rk = 1 THEN quality END)
             AS kept_quality,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM m GROUP BY cluster_id ORDER BY cluster_id""")
def _q_cluster_keep(spark, sf_dir):
    """Keep-one-per-cluster selection over the MinHash dup clusters
    (longest member wins, ties -> lowest id) — the final dedup
    decision a training pipeline applies before writing."""
    d = _read(spark, sf_dir, "documents")
    clusters = dup_clusters(minhash_band_pairs(
        d, n=3, num_hashes=8, band_size=2))
    return (cluster_representatives(clusters, d, quality_col="n_chars")
            .orderBy("cluster_id"))


# same (url, pos) election replayed relationally
@query("dedup_paragraph", oracle="""
    WITH p AS (
      SELECT 'https://example.org/para/' || doc_id AS url,
             0 AS pos, 'boilerplate ' || source AS para
      FROM documents
      UNION ALL
      SELECT 'https://example.org/para/' || doc_id, 1,
             'body ' || doc_id FROM documents
      UNION ALL
      SELECT 'https://example.org/para/' || doc_id, 2,
             'footer ' || (doc_id % 7) FROM documents),
    own AS (SELECT para,
              MIN(url || chr(0) ||
                  lpad(CAST(pos AS VARCHAR), 9, '0')) AS winner
            FROM p GROUP BY para),
    kept AS (SELECT p.url, p.pos, p.para
             FROM p JOIN own ON p.para = own.para
             WHERE p.url || chr(0) ||
                   lpad(CAST(p.pos AS VARCHAR), 9, '0')
                   = own.winner),
    stats AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_paras
              FROM p GROUP BY url),
    ka AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_kept,
                  string_agg(para, chr(10) || chr(10)
                             ORDER BY pos) AS kept_text
           FROM kept GROUP BY url)
    SELECT s.url, s.n_paras,
           CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
           ka.kept_text
    FROM stats s LEFT JOIN ka ON s.url = ka.url
    ORDER BY s.url""")
def _q_paragraph_dedup(spark, sf_dir):
    """Cross-doc paragraph dedup keep-first over planted 3-paragraph
    pages (shared per-source boilerplate header, unique body, shared
    footer per doc_id%7): only the lexicographically-first url keeps
    each shared paragraph; the oracle replays the same (url, pos)
    election in SQL."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.concat_ws(
        "\n\n",
        F.format_string("boilerplate %s", F.col("source")),
        F.format_string("body %d", did),
        F.format_string("footer %d", did % 7))
    pages = d.select(
        F.format_string("https://example.org/para/%d", did)
        .alias("url"), text.alias("text"))
    return paragraph_dedup(pages).orderBy("url")


# identical polynomial rolling hash, 8-way contribution
# explode, cumulative boundary count, ordered reassembly
@query("dedup_cdc_chunks", oracle="""
    WITH base AS (
      SELECT doc_id AS doc,
             text || ' shared passage number ' || (doc_id % 7)
               || ' of the corpus boilerplate that repeats'
               || ' across documents verbatim and keeps'
               || ' repeating until a content cut lands'
               || ' inside it' AS t
      FROM documents WHERE doc_id % 5 = 0),
    idx AS (SELECT doc, t, length(t) AS n,
                   unnest(generate_series(1, length(t)))
                     AS i
            FROM base),
    chars AS MATERIALIZED (
      SELECT doc, n, i, substr(t, CAST(i AS INT), 1) AS ch,
             ascii(substr(t, CAST(i AS INT), 1)) AS code
      FROM idx),
    contrib AS (
      SELECT doc, i + k AS p, code * w AS term
      FROM chars,
           (VALUES (0, 1), (1, 31), (2, 961), (3, 29791),
                   (4, 923521), (5, 28629151),
                   (6, 887503681), (7, 27512614111))
             AS kw(k, w)
      WHERE i + k <= n),
    h AS (SELECT doc, p, CAST(SUM(term) AS BIGINT) AS h
          FROM contrib GROUP BY doc, p),
    m AS (SELECT c.doc, c.i, c.ch, (h.h % 64 = 0) AS is_b
          FROM chars c
          JOIN h ON c.doc = h.doc AND c.i = h.p),
    wid AS (
      SELECT doc, i, ch,
             COALESCE(SUM(CASE WHEN is_b THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS chunk_id
      FROM m),
    ch2 AS (SELECT doc, chunk_id,
                   string_agg(ch, '' ORDER BY i) AS content
            FROM wid GROUP BY doc, chunk_id),
    st AS (SELECT md5(content) AS chunk_md5,
                  CAST(length(content) AS BIGINT)
                    AS chunk_len,
                  doc
           FROM ch2)
    SELECT chunk_md5, chunk_len,
           CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM st GROUP BY chunk_md5, chunk_len
    HAVING COUNT(DISTINCT doc) >= 2
    ORDER BY chunk_md5""")
def _q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over every 5th doc with a planted
    shared tail per doc_id%7 class: the self-synchronizing cuts
    realign inside the shared text, so cross-document duplicate
    chunks surface wherever a boundary lands in the tail."""
    d = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 5
                                                == 0)
    pre, post = _CDC_TAIL.split("%s")
    docs = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(pre),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit(post)).alias("text"))
    return cdc_chunks(docs).orderBy("chunk_md5")
