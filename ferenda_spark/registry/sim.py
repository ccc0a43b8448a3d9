"""Vector-similarity queries (``sim_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.linking import margin_bitext_pairs
from ferenda_spark.operators.similarity import (centroid_distances,
                                                clustered_embeddings,
                                                cosine_topk, ivf_topk,
                                                lsh_bucketed_topk, maxsim_topk,
                                                one_hot_centroids, pq_topk,
                                                sq8_topk)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _EMB_CTE, _read, _sign_bands_sql


_SIM_QUERY_IDS = [0, 7, 42, 123]


_SIM_IDS_SQL = "(0, 7, 42, 123)"


@query("sim_cosine_topk", oracle="WITH " + _EMB_CTE + """,
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id IN """ + _SIM_IDS_SQL + """),
    scored AS (
      SELECT query_id, vec_id,
             round(list_cosine_similarity(qv, v), 6) AS cosine_r
      FROM e, q WHERE vec_id <> query_id),
    ranked AS (
      SELECT query_id, vec_id, cosine_r,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_r DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, rank, cosine_r FROM ranked
    WHERE rank <= 10""")
def _q_sim_cosine_topk(spark, sf_dir):
    return cosine_topk(_read(spark, sf_dir, "embeddings"),
                       _SIM_QUERY_IDS, k=10)


@query("sim_lsh_topk", oracle="WITH " + _EMB_CTE + """,
    b AS MATERIALIZED (""" + _sign_bands_sql("raw", 8, 4) + """),
    q AS (SELECT vec_id AS query_id, band, bucket
          FROM b WHERE vec_id IN """ + _SIM_IDS_SQL + """),
    cand AS (
      SELECT DISTINCT q.query_id, b.vec_id
      FROM b JOIN q ON b.band = q.band AND b.bucket = q.bucket
      WHERE b.vec_id <> q.query_id),
    scored AS (
      SELECT c.query_id, c.vec_id,
             round(list_cosine_similarity(eq.v, ev.v), 6)
               AS cosine_r
      FROM cand c
      JOIN e eq ON eq.vec_id = c.query_id
      JOIN e ev ON ev.vec_id = c.vec_id),
    ranked AS (
      SELECT query_id, vec_id, cosine_r,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_r DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, rank, cosine_r FROM ranked
    WHERE rank <= 10""")
def _q_sim_lsh_topk(spark, sf_dir):
    """ANN scale path: banded sign-LSH (8 bits x 4 bands,
    OR-construction) — r1's single 4-bit table is now one band of a
    multi-table design."""
    return lsh_bucketed_topk(_read(spark, sf_dir, "embeddings"),
                             _SIM_QUERY_IDS, k=10,
                             bits_per_band=8, n_bands=4)


# full-probe IVF == exact brute force (candidate generation
# over ALL inverted lists loses nothing); distinct ids/k from
# sim_cosine_topk
@query("sim_ivf_topk", oracle="WITH " + _EMB_CTE + """,
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id IN (3, 55, 201)),
    scored AS (
      SELECT query_id, vec_id,
             round(list_cosine_similarity(qv, v), 6) AS cosine_r
      FROM e, q WHERE vec_id <> query_id),
    ranked AS (
      SELECT query_id, vec_id, cosine_r,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_r DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, rank, cosine_r FROM ranked
    WHERE rank <= 8""")
def _q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: k-means coarse quantizer (deterministic
    Lloyd's, driver-held centroids), map-side list assignment,
    broadcast query-probe join on the list id, exact rescore within
    probed lists.  Run at nprobe = n_lists (probe everything) so the
    result is EXACTLY the brute-force answer and the DuckDB oracle is
    closed-form; the pruning (nprobe < n_lists) recall is pinned by
    tests/test_spark_ops.py::test_ivf_partial_probe_recall."""
    return ivf_topk(_read(spark, sf_dir, "embeddings"),
                    [3, 55, 201], k=8, n_lists=8, nprobe=8, iters=2)


# pruned IVF over the closed-form clustered corpus
# (similarity.clustered_embeddings): cross-cluster cosine is
# exactly 0 (disjoint support), so nprobe=1 against the true
# one-hot centroids = global exact top-k; cosine has the
# closed form (1 + eq*ev) / (sqrt(1+eq^2)*sqrt(1+ev^2))
@query("sim_ivf_topk_pruned", oracle="""
    WITH v AS (
      SELECT vec_id, vec_id % 4 AS cl,
             (vec_id % 7) * 0.01 AS eps
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, cl, eps AS qeps FROM v
          WHERE vec_id IN (3, 55, 201)),
    scored AS (
      SELECT q.query_id, v.vec_id,
             round((1.0 + q.qeps * v.eps)
                   / (sqrt(1.0 + q.qeps * q.qeps)
                      * sqrt(1.0 + v.eps * v.eps)), 6)
               AS cosine_r
      FROM q JOIN v ON v.cl = q.cl
      WHERE v.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, cosine_r,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_r DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, rank, cosine_r FROM ranked
    WHERE rank <= 8""")
def _q_sim_ivf_topk_pruned(spark, sf_dir):
    """IVF with nprobe < n_lists — the APPROXIMATE branch, oracle-
    exact by construction: the corpus is closed-form well-separated
    clusters (cross-cluster cosine exactly 0, disjoint support) and
    the quantizer is the true one-hot centroids (the offline-trained
    model a production index loads), so probing only the single
    nearest list provably returns the global brute-force top-k.  This
    pins the pruning path itself (probe selection, candidate join,
    within-list rescore), not just the probe-everything degenerate."""
    corpus = clustered_embeddings(
        _read(spark, sf_dir, "embeddings").select("vec_id"))
    return ivf_topk(corpus, [3, 55, 201], k=8, n_lists=4, nprobe=1,
                    centroids=one_hot_centroids())


# SQ8: per-dim min/max -> int8 codes -> bin-midpoint
# dequantize -> asymmetric cosine; mirrors sq8_topk exactly
@query("sim_sq8_topk", oracle="WITH " + _EMB_CTE + """,
    st AS (
      SELECT pos, MIN(x) AS mn, MAX(x) - MIN(x) AS span
      FROM (SELECT generate_subscripts(v, 1) AS pos,
                   unnest(v) AS x FROM e)
      GROUP BY pos),
    b AS (SELECT list(mn ORDER BY pos) AS mn,
                 list(span ORDER BY pos) AS span
          FROM st),
    deq AS (
      SELECT vec_id,
             list_transform(range(1, 65), i ->
               mn[i] + (CASE WHEN span[i] = 0 THEN 0
                        ELSE least(255, CAST(floor(
                          (v[i] - mn[i]) / span[i] * 256.0)
                          AS INT)) END + 0.5)
                     * span[i] / 256.0) AS xh
      FROM e CROSS JOIN b),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id IN """ + _SIM_IDS_SQL + """),
    scored AS (
      SELECT query_id, d.vec_id,
             round(list_cosine_similarity(d.xh, qv), 6)
               AS cosine_sq_r
      FROM deq d, q WHERE d.vec_id <> query_id),
    ranked AS (
      SELECT query_id, vec_id, cosine_sq_r,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_sq_r DESC, vec_id) AS INT)
               AS rank
      FROM scored)
    SELECT query_id, vec_id, rank, cosine_sq_r FROM ranked
    WHERE rank <= 10""")
def _q_sim_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN (the FAISS SQ8 index shape): per-dim
    min/max training — order-independent aggregates, exactly
    reproducible in any engine, unlike k-means means — int8 codes
    (4x smaller scan at rescore), asymmetric distance: dequantized
    bin-midpoint corpus vs exact query.  Same query ids and k as
    sim_cosine_topk so the two result sets measure the quantization
    loss directly."""
    return sq8_topk(_read(spark, sf_dir, "embeddings"),
                    [0, 7, 42, 123], dim=64, k=10)


# centroid = per-(label, dim) mean; norm/dist = ORDERED
# left-to-right folds (list_reduce == F.aggregate sequence)
@query("sim_centroid_dist", oracle="WITH " + _EMB_CTE + """,
    el AS (
      SELECT e.vec_id, emb.label, e.v
      FROM e JOIN embeddings emb USING (vec_id)),
    pos AS (
      SELECT label, u.i - 1 AS pos, v[u.i] AS x
      FROM el, (SELECT unnest(generate_series(1, len(v)))) u(i)),
    cm AS (
      SELECT label, pos, round(AVG(x), 6) AS c
      FROM pos GROUP BY label, pos),
    cv AS (
      SELECT label, list(c ORDER BY pos) AS cvec
      FROM cm GROUP BY label)
    SELECT el.vec_id, el.label,
           round(sqrt(list_reduce(
             list_transform(el.v, a -> a * a),
             (acc, x) -> acc + x)), 6) AS l2_norm,
           round(sqrt(list_reduce(
             list_transform(
               generate_series(1, len(el.v)),
               i -> (el.v[i] - cv.cvec[i])
                    * (el.v[i] - cv.cvec[i])),
             (acc, x) -> acc + x)), 6) AS centroid_dist
    FROM el JOIN cv USING (label)
    ORDER BY el.vec_id""")
def _q_sim_centroid_dist(spark, sf_dir):
    """Per-label centroid distances + L2 norms over the embeddings
    table: the cluster-hygiene outlier signal; ordered folds keep
    the floats engine-portable."""
    return (centroid_distances(_read(spark, sf_dir, "embeddings"))
            .orderBy("vec_id"))


# ratio-margin bitext: integer micro-cosines, per-side top-4
# sums/counts, permille margin by integer division, best
# target per source at threshold 1000
@query("sim_margin_bitext", oracle="""
    WITH el AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    s AS (SELECT vec_id AS src_id, v AS sv FROM el
          WHERE label % 2 = 0),
    t AS (SELECT vec_id AS tgt_id, v AS tv FROM el
          WHERE label % 2 = 1),
    p AS (
      SELECT src_id, tgt_id,
             CAST(floor(list_cosine_similarity(sv, tv)
                  * 1000000) AS BIGINT) AS cos_micro
      FROM s, t),
    pp AS (SELECT * FROM p WHERE cos_micro > 0),
    r AS (
      SELECT src_id, tgt_id, cos_micro,
             row_number() OVER (PARTITION BY src_id
               ORDER BY cos_micro DESC, tgt_id) AS rf,
             row_number() OVER (PARTITION BY tgt_id
               ORDER BY cos_micro DESC, src_id) AS rb
      FROM pp),
    fs AS (SELECT src_id, SUM(cos_micro) AS fwd,
                  COUNT(*) AS n_f
           FROM r WHERE rf <= 4 GROUP BY src_id),
    bs AS (SELECT tgt_id, SUM(cos_micro) AS bwd,
                  COUNT(*) AS n_b
           FROM r WHERE rb <= 4 GROUP BY tgt_id),
    m AS (
      SELECT pp.src_id, pp.tgt_id, pp.cos_micro,
             CAST((2000 * pp.cos_micro * n_f * n_b)
               // (fwd * n_b + bwd * n_f) AS BIGINT)
               AS margin_permille
      FROM pp JOIN fs USING (src_id)
              JOIN bs USING (tgt_id)),
    rr AS (SELECT *, row_number() OVER (PARTITION BY src_id
             ORDER BY margin_permille DESC, tgt_id) AS rn
           FROM m)
    SELECT src_id, tgt_id, cos_micro, margin_permille
    FROM rr WHERE rn = 1 AND margin_permille >= 1000
    ORDER BY src_id""")
def _q_margin_bitext(spark, sf_dir):
    """Artetxe-Schwenk ratio-margin bitext mining: even-label
    embeddings as the source side, odd-label as the target side;
    best target per source with integer micro-cosine / permille
    margin, threshold 1000 (= above the neighborhood average)."""
    e = _read(spark, sf_dir, "embeddings")
    src = (e.where(F.col("label") % 2 == 0)
           .select(F.col("vec_id").alias("src_id"),
                   F.col("embedding").alias("src_vec")))
    tgt = (e.where(F.col("label") % 2 == 1)
           .select(F.col("vec_id").alias("tgt_id"),
                   F.col("embedding").alias("tgt_vec")))
    return (margin_bitext_pairs(src, tgt, k=4,
                                min_margin_permille=1000)
            .orderBy("src_id"))


# PQ-ADC: replay the sampled-point codebooks, the per-
# (vector, subspace) encoding argmin, and the query distance
# table; every squared-distance fold is left-assoc t=1..4 and
# rounded to 6 exactly like the Spark encoder
@query("sim_pq_topk", oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE))
               AS v
      FROM embeddings),
    ss AS (SELECT CAST(unnest(generate_series(0, 15)) AS INT)
             AS s),
    cb AS (SELECT CAST((vec_id - 5) // 37 AS INT) AS j, v
           FROM e
           WHERE vec_id IN (5, 42, 79, 116, 153, 190, 227, 264)),
    dists AS MATERIALIZED (
      SELECT e.vec_id, ss.s, cb.j,
             round(0.0
               + (e.v[ss.s*4+1] - cb.v[ss.s*4+1])
                 * (e.v[ss.s*4+1] - cb.v[ss.s*4+1])
               + (e.v[ss.s*4+2] - cb.v[ss.s*4+2])
                 * (e.v[ss.s*4+2] - cb.v[ss.s*4+2])
               + (e.v[ss.s*4+3] - cb.v[ss.s*4+3])
                 * (e.v[ss.s*4+3] - cb.v[ss.s*4+3])
               + (e.v[ss.s*4+4] - cb.v[ss.s*4+4])
                 * (e.v[ss.s*4+4] - cb.v[ss.s*4+4]), 6) AS d
      FROM e CROSS JOIN ss CROSS JOIN cb),
    codes AS (
      SELECT vec_id, s, j FROM (
        SELECT vec_id, s, j, ROW_NUMBER() OVER (
          PARTITION BY vec_id, s ORDER BY d, j) AS rn
        FROM dists)
      WHERE rn = 1),
    dt AS (SELECT vec_id AS query_id, s, j, d
           FROM dists WHERE vec_id IN (0, 7, 42, 123)),
    adc AS (
      SELECT dt.query_id, c.vec_id,
             round(SUM(dt.d), 6) AS adc_dist
      FROM codes c
      JOIN dt ON dt.s = c.s AND dt.j = c.j
      WHERE c.vec_id <> dt.query_id
      GROUP BY dt.query_id, c.vec_id)
    SELECT query_id, vec_id, rank, adc_dist FROM (
      SELECT query_id, vec_id, adc_dist,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY adc_dist, vec_id) AS INT) AS rank
      FROM adc)
    WHERE rank <= 5
    ORDER BY query_id, rank""")
def _q_sim_pq_topk(spark, sf_dir):
    """PQ-ADC top-5 over the REAL embeddings (m=16 subspaces x 8
    codewords, sampled-point codebooks from vec_ids j*37+5); the
    oracle replays the encoding argmin and the per-query distance
    table from the same codeword rows."""
    emb = _read(spark, sf_dir, "embeddings")
    return (pq_topk(emb, [0, 7, 42, 123], k_nn=5, m=16, k=8, dim=64)
            .orderBy("query_id", "rank"))


# MaxSim: md5-derived token vectors as (tok, k, c) rows;
# cosines on the vocabulary, max per (doc, query token), sum
@query("sim_maxsim_topk", oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)),
                 '[ \t\n\r\f\x0B]+')) AS tok
        FROM documents) WHERE length(tok) > 0),
    vocab AS (SELECT DISTINCT tok FROM toks),
    ks AS (SELECT CAST(range AS INTEGER) AS k
           FROM range(0, 8)),
    vcomp AS (
      SELECT tok, k,
             CAST(CAST(('0x' || substr(md5(tok || ':' || k),
                                       1, 8)) AS BIGINT)
                  % 2001 - 1000 AS DOUBLE) / 1000.0 AS c
      FROM vocab CROSS JOIN ks),
    vnorm AS (SELECT tok, sqrt(SUM(c * c)) AS nt
              FROM vcomp GROUP BY tok),
    q(qt) AS (VALUES ('spark'), ('join'), ('filter')),
    qcomp AS (
      SELECT qt, k,
             CAST(CAST(('0x' || substr(md5(qt || ':' || k),
                                       1, 8)) AS BIGINT)
                  % 2001 - 1000 AS DOUBLE) / 1000.0 AS cq
      FROM q CROSS JOIN ks),
    qnorm AS (SELECT qt, sqrt(SUM(cq * cq)) AS nq
              FROM qcomp GROUP BY qt),
    cos AS (
      SELECT d.tok, d.qt,
             round(d.dot / (vnorm.nt * qnorm.nq), 9) AS cos
      FROM (SELECT vcomp.tok, qcomp.qt,
                   SUM(vcomp.c * qcomp.cq) AS dot
            FROM vcomp JOIN qcomp USING (k)
            GROUP BY 1, 2) d
      JOIN vnorm USING (tok) JOIN qnorm USING (qt)),
    best AS (
      SELECT toks.doc_id, cos.qt, MAX(cos.cos) AS best
      FROM toks JOIN cos USING (tok)
      GROUP BY 1, 2),
    scored AS (
      SELECT doc_id, round(SUM(best), 6) AS maxsim
      FROM best GROUP BY 1)
    SELECT doc_id, rank, maxsim FROM (
      SELECT doc_id, maxsim,
             ROW_NUMBER() OVER (ORDER BY maxsim DESC, doc_id)
               AS rank
      FROM scored) t
    WHERE rank <= 20 ORDER BY rank""")
def _q_sim_maxsim_topk(spark, sf_dir):
    """ColBERT-style MaxSim retrieval over the REAL documents with
    md5-derived deterministic token vectors (query: spark/join/
    filter); the oracle replays the vocabulary-sized cosine table and
    the max-then-sum late interaction."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (maxsim_topk(d, ["spark", "join", "filter"],
                        dim=8, top_k=20)
            .orderBy("rank"))
