"""Training-data preparation queries (``train_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.dedup import tokens
from ferenda_spark.operators.training import (bpe_encode_counts, bpe_train,
                                              chunk_documents,
                                              contrastive_pairs,
                                              curriculum_schedule,
                                              deterministic_walks, domain_cap,
                                              dsir_weights,
                                              kg_negative_samples,
                                              length_buckets, mixture_order,
                                              neyman_allocation,
                                              pack_sequences, pareto_selection,
                                              portable_bucket,
                                              source_temperature,
                                              split_leakage, stratified_sample,
                                              token_budget_allocation,
                                              train_corpus, weighted_sample)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import (_MINHASH_CTE, _read,
                                           _source_weights, block_edges)


# portable md5-prefix bucket, the cross-engine sampling
# contract (ferenda_spark.operators.training.portable_bucket)
@query("train_stratified_sample", oracle="""
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 10000
          < CASE source WHEN 'src0' THEN 5000
                        WHEN 'src1' THEN 2500
                        WHEN 'src2' THEN 8000
                        ELSE 1000 END""")
def _q_train_stratified_sample(spark, sf_dir):
    """Training-pipeline stratified sampling: deterministic portable-
    hash subsample per source (no RNG, nested across fractions,
    map-side filter — no shuffle at any scale)."""
    return stratified_sample(
        _read(spark, sf_dir, "documents"), "source",
        {"src0": 0.5, "src1": 0.25, "src2": 0.8},
        default=0.1).select("doc_id", "source")


@query("train_packed_sequences", oracle=r"""
    WITH s AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT)
               % 10000 % 8 AS shard,
             CAST(len(string_split_regex(lower(trim(text)),
                                         '[ \t\n\r\f\x0B]+')) AS BIGINT)
               AS n_tokens
      FROM documents),
    c AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS start_off
      FROM s)
    SELECT doc_id, shard, n_tokens,
           CAST(start_off AS BIGINT) AS start_off,
           CAST(start_off // 512 AS BIGINT) AS pack_id,
           CAST(start_off % 512 AS BIGINT) AS pack_off,
           CAST((start_off + greatest(n_tokens, 1) - 1) // 512
             - start_off // 512 + 1 AS BIGINT) AS n_spans
    FROM c""")
def _q_train_packed_sequences(spark, sf_dir):
    """GPT-style sequence packing: hash-sharded concat-then-chunk
    token layout; one bounded per-shard cumulative-sum window."""
    return pack_sequences(_read(spark, sf_dir, "documents"),
                          max_tokens=512, n_shards=8)


@query("train_mixture_order", oracle="""
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT)
               % 10000 % 256 AS bk
      FROM documents)
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY bk, doc_id) AS BIGINT) AS source_rank,
           round(CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY bk, doc_id) AS DOUBLE)
                 / (CASE source WHEN 'src0' THEN 3.0
                                WHEN 'src1' THEN 1.0
                                ELSE 2.0 END), 6) AS order_key
    FROM b""")
def _q_train_mixture_order(spark, sf_dir):
    """Deterministic weighted source interleave (mixture schedule);
    per-source ranks via bounded (source, bucket) windows + broadcast
    bucket offsets — no global row_number."""
    return mixture_order(_read(spark, sf_dir, "documents"), "source",
                         {"src0": 3.0, "src1": 1.0},
                         default_weight=2.0)


@query("train_doc_chunks", oracle="""
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)),
                                        '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
              WHERE regexp_matches(text, '[^ \t\n\r\f\x0B]')),
            s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(generate_series(0, len(toks) - 1, 12)) AS st
              FROM t)
            SELECT doc_id, CAST(st // 12 AS INT) AS chunk_id,
                   CAST(st AS INT) AS start_tok,
                   CAST(least(16, n - st) AS INT) AS n_tokens,
                   array_to_string(list_slice(toks, st + 1, st + 16),
                                   ' ') AS chunk_text
            FROM s""")
def _q_train_doc_chunks(spark, sf_dir):
    """Sliding-window token chunking (RAG / pretraining context
    assembly): overlapping 16-token windows, stride 12, with token
    coordinates.  Map-side sequence()+explode — no shuffle, no UDF."""
    return chunk_documents(_read(spark, sf_dir, "documents"),
                           window=16, stride=12)


# mirrors training.train_corpus stage by stage over the same
# planted-PII text: exact keep-one -> LSH cluster keep-one ->
# quality gate -> closed-form redaction -> chunking
@query("train_corpus_pipeline", oracle=r"""
    WITH RECURSIVE
    pl AS (
      SELECT doc_id, text AS raw,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.'
                  || CAST(doc_id % 200 AS VARCHAR) || '.7' AS text
      FROM documents),
    kept1 AS (
      SELECT doc_id, raw, text FROM pl
      WHERE doc_id IN (
        SELECT MIN(doc_id) FROM pl
        GROUP BY md5(substr(text, 1, 40)))),
    """ + _MINHASH_CTE.replace("FROM documents", "FROM kept1")
                     .lstrip() + r""",
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
    clus AS (
      SELECT v AS doc_id, MIN(u) AS canon FROM reach GROUP BY v),
    kept2 AS (
      SELECT k.doc_id, k.raw, k.text FROM kept1 k
      LEFT JOIN clus c ON k.doc_id = c.doc_id
      WHERE c.canon IS NULL OR c.canon = k.doc_id),
    q AS (
      SELECT t2.doc_id,
             (CASE WHEN len(t2.t) >= 10 THEN 0.4 ELSE 0.0 END
              + CASE WHEN round(CAST(length(t2.text) AS DOUBLE)
                     / len(t2.t), 4) <= 12.0
                THEN 0.3 ELSE 0.0 END
              + CASE WHEN round(CAST(length(t2.text)
                     - length(regexp_replace(t2.text,
                         '[^a-zA-Z0-9_ \t\n\r\f\x0B]', '', 'g'))
                     AS DOUBLE) / length(t2.text), 4) <= 0.2
                THEN 0.3 ELSE 0.0 END) AS qv
      FROM toks t2 JOIN kept2 k2 ON t2.doc_id = k2.doc_id),
    red AS (
      SELECT k.doc_id,
             k.raw || ' contact <EMAIL> from <IP>' AS text
      FROM kept2 k JOIN q ON k.doc_id = q.doc_id
      WHERE q.qv >= 0.7),
    ct AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM red
      WHERE regexp_matches(text, '[^ \t\n\r\f\x0B]')),
    cs AS (
      SELECT doc_id, tk, len(tk) AS n,
             unnest(generate_series(0, len(tk) - 1, 12)) AS st
      FROM ct)
    SELECT doc_id, CAST(st // 12 AS INT) AS chunk_id,
           CAST(st AS INT) AS start_tok,
           CAST(least(16, n - st) AS INT) AS n_tokens,
           array_to_string(list_slice(tk, st + 1, st + 16),
                           ' ') AS chunk_text
    FROM cs""")
def _q_train_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus assembly in one call
    (operators.training.train_corpus): exact dedup keep-one ->
    MinHash-LSH near-dup cluster keep-one -> quality gate -> PII
    redaction -> sliding-window chunking.  PII suffixes are planted
    per doc (same closed form as clean_redact_pii) so the redaction
    stage provably does work; the oracle recomputes every stage in
    SQL over the same planted text."""
    docs = (_read(spark, sf_dir, "documents")
            .withColumn("text", F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"), F.lit(".7"))))
    return train_corpus(docs)


@query("train_domain_cap", oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'hot.example.org'
                  ELSE 'h' || (doc_id % 13) || '.example.org'
             END AS host,
             CAST((doc_id * 37) % 101 AS BIGINT) AS score
      FROM documents),
    r AS (
      SELECT doc_id, host, score,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM d)
    SELECT doc_id, host, score, rank FROM r
    WHERE rank <= 5 ORDER BY host, rank""")
def _q_train_domain_cap(spark, sf_dir):
    """RefinedWeb/C4-style per-domain quota: keep at most 5 docs per
    host by descending quality score (planted closed-form host with a
    deliberately hot domain — every third doc — so the cap provably
    prunes, and the two-phase bucketed ranking is exercised on the
    exact skew shape it exists for)."""
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("hot.example.org"))
         .otherwise(F.concat(F.lit("h"),
                             (F.col("doc_id") % 13).cast("string"),
                             F.lit(".example.org"))).alias("host"),
        ((F.col("doc_id") * 37) % 101).cast("long").alias("score"))
    return (domain_cap(d, "host",
                       [F.col("score").desc(), F.col("doc_id")], k=5)
            .select("doc_id", "host", "score", "rank")
            .orderBy("host", "rank"))


@query("train_bpe_merges", oracle=None)
def _q_train_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training: 12 merge rounds over the
    corpus word-frequency dictionary.  Iterative with a 1-row driver
    argmax per round — genuinely non-SQL-expressible, so no oracle
    entry (rows-only driver check); parity is pinned instead by
    tests/test_spark_ops.py against a pure-Python Sennrich trainer
    on randomized corpora."""
    return bpe_train(_read(spark, sf_dir, "documents")
                     .select("doc_id", "text"), n_merges=12)


@query("train_bpe_tokens", oracle=None)
def _q_train_bpe_tokens(spark, sf_dir):
    """BPE piece counts per document under the corpus-trained merge
    table (train + encode end-to-end): type-dictionary encoding, so
    merges never touch the raw token stream.  Rows-only like
    train_bpe_merges (iterative); parity pinned by the pure-Python
    encoder test."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (bpe_encode_counts(docs, bpe_train(docs, n_merges=12))
            .orderBy("doc_id"))


# DSIR: add-one smoothed hashed-unigram LLR against the
# lang='en' target slice; bucket = first-8-md5-hex % 1024
# (the portable_bucket contract), weights rounded to 6 digits
@query("train_dsir_weights", oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    ft AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
               % 1024 AS b
      FROM (SELECT doc_id, lang, unnest(tk) AS w FROM toks)),
    counts AS (
      SELECT b,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cn
      FROM ft GROUP BY b),
    tot AS (
      SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nn
      FROM ft),
    llr AS (
      SELECT b, ln(ct + 1.0) - ln(nt + 1024.0)
                - ln(cn + 1.0) + ln(nn + 1024.0) AS llr
      FROM counts CROSS JOIN tot),
    sc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             round(AVG(llr), 6) AS dsir_logw
      FROM ft JOIN llr USING (b)
      GROUP BY doc_id),
    pw AS (SELECT dsir_logw, COUNT(*) AS c FROM sc GROUP BY 1),
    cuts AS (
      SELECT dsir_logw,
             COALESCE(SUM(c) OVER (
               ORDER BY dsir_logw DESC
               ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS c_before,
             SUM(c) OVER () AS n_all
      FROM pw)
    SELECT sc.doc_id, sc.n_tokens, sc.dsir_logw,
           cuts.c_before * 2 // cuts.n_all = 0 AS target_like
    FROM sc JOIN cuts USING (dsir_logw)
    ORDER BY sc.doc_id""")
def _q_train_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling weights (Xie et al. 2023): hashed
    unigram bag-of-words models of the target (lang='en' slice) and
    raw corpus, each doc weighted by its mean token log-likelihood
    ratio.  O(n_buckets) model table broadcast into a map-side score;
    the training-data-selection counterpart of the reference's facet
    selection (SURVEY.md P15)."""
    return (dsir_weights(
        _read(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        target_lang="en", n_buckets=1024)
        .orderBy("doc_id"))


# alpha=0.5 temperature mixture: q = sqrt(n)/sum(sqrt(n))
@query("train_source_temperature", oracle="""
    WITH cnt AS (
      SELECT source, COUNT(*) AS n_docs
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS n_all,
                   SUM(sqrt(n_docs)) AS sq_sum FROM cnt)
    SELECT source, n_docs,
           round(n_docs * 1.0 / n_all, 6) AS p,
           round(sqrt(n_docs) / sq_sum, 6) AS q,
           round((sqrt(n_docs) / sq_sum)
                 / (n_docs * 1.0 / n_all), 6) AS boost
    FROM cnt CROSS JOIN tot ORDER BY source""")
def _q_train_source_temperature(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) source sampling rates over the
    corpus source column: q_s = sqrt(p_s)/sum sqrt(p_t), boost =
    q_s/p_s; the multilingual-mixture rule, dimension-sized."""
    return (source_temperature(_read(spark, sf_dir, "documents"))
            .orderBy("source"))


# portable-LCG filtered negative sampling (glibc constants)
@query("train_kg_negatives", oracle="""
    WITH pos AS (
      SELECT CAST(doc_id AS BIGINT) AS example_id,
             CAST(doc_id % 50 AS BIGINT) AS pos_entity
      FROM documents),
    seeded AS (
      SELECT example_id, pos_entity,
             CAST(unnest(generate_series(1, 3)) AS BIGINT)
               AS sample_idx
      FROM pos),
    cand AS (
      SELECT example_id, pos_entity, sample_idx,
             ((1103515245 * (example_id * 4 + sample_idx)
               + 12345) % 2147483648) % 50 AS neg_entity
      FROM seeded)
    SELECT c.example_id, c.pos_entity, c.neg_entity,
           c.sample_idx
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM pos p
      WHERE p.example_id = c.example_id
        AND p.pos_entity = c.neg_entity)
    ORDER BY c.example_id, c.sample_idx""")
def _q_kg_negatives(spark, sf_dir):
    """TransE-style filtered negative sampling over the doc->entity
    mention edges: k=3 corrupted tails per positive by portable LCG
    (pure int64 — bit-identical across engines and resumes),
    false negatives removed by pair anti-join."""
    pos = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("example_id"),
        (F.col("doc_id") % 50).alias("pos_entity"))
    return (kg_negative_samples(pos, n_entities=50, k=3)
            .orderBy("example_id", "sample_idx"))


# portable md5 bucket (training.portable_bucket contract)
@query("train_split_assignment", oracle="""
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) % 10000 AS bucket
      FROM documents)
    SELECT doc_id, source, bucket,
           CASE WHEN bucket < 9600 THEN 'train'
                WHEN bucket < 9800 THEN 'val'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id""")
def _q_split_assignment(spark, sf_dir):
    """Deterministic train/val/test assignment (96/2/2) by the
    portable md5 bucket — the split is a pure function of doc_id, so
    it is stable under re-runs, resumes and corpus growth (a doc
    never migrates between splits)."""
    d = _read(spark, sf_dir, "documents")
    b = portable_bucket(F.col("doc_id"))
    return (d.select("doc_id", "source", b.alias("bucket"),
                     F.when(b < 9600, "train")
                     .when(b < 9800, "val")
                     .otherwise("test").alias("split"))
            .orderBy("doc_id"))


# two-pass capped weighted allocation, integer div both passes
@query("train_token_budget", oracle=r"""
    WITH av AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(lower(trim(text)),
                  '[ \t\n\r\f\x0B]+'))) AS BIGINT)
               AS avail_tokens
      FROM documents GROUP BY source),
    weights AS (
      SELECT 'src' || i AS source,
             CAST(1 + i % 3 AS BIGINT) AS weight
      FROM (SELECT unnest(generate_series(0, 19)) AS i)),
    base AS (
      SELECT av.source, av.avail_tokens, w.weight
      FROM av JOIN weights w USING (source)),
    tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_all
           FROM base),
    p1 AS (
      SELECT base.*, least(avail_tokens,
             (weight * 200000) // tw.w_all) AS a1
      FROM base CROSS JOIN tw),
    t1 AS (
      SELECT CAST(200000 - SUM(a1) AS BIGINT) AS leftover,
             CAST(SUM(CASE WHEN a1 < avail_tokens THEN weight
                      ELSE 0 END) AS BIGINT) AS w_unc
      FROM p1)
    SELECT source, avail_tokens, weight,
           a1 + (CASE WHEN t1.w_unc > 0 AND a1 < avail_tokens
                 THEN least(avail_tokens - a1,
                      (weight * t1.leftover) // t1.w_unc)
                 ELSE 0 END) AS alloc_tokens
    FROM p1 CROSS JOIN t1 ORDER BY source""")
def _q_token_budget(spark, sf_dir):
    """Capped weighted token-budget allocation across sources (two
    proportional passes, integer div end-to-end) — the corpus-mixing
    budget step before a training-set write."""
    avail = (_read(spark, sf_dir, "documents")
             .groupBy("source")
             .agg(F.sum(F.size(tokens(F.col("text"))))
                  .cast("long").alias("avail_tokens")))
    return (token_budget_allocation(avail, _source_weights(spark),
                                    budget=200_000)
            .orderBy("source"))


# md5-argmin walk recursion replayed step by step
@query("train_kg_walks", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b, b + 2 FROM blk
      UNION ALL SELECT b + 1, b + 3 FROM blk
      UNION ALL SELECT b + 2, b + 3 FROM blk
      UNION ALL SELECT b + 3, b + 1 FROM blk),
    starts AS (SELECT DISTINCT u FROM e),
    f0 AS (SELECT s.u AS start, w.walk_idx, 0 AS step,
                  s.u AS node
           FROM starts s,
                (SELECT unnest([0, 1]) AS walk_idx) w),
    f1 AS (SELECT start, walk_idx, 1 AS step, v AS node FROM (
             SELECT f0.start, f0.walk_idx, e.v,
                    md5(CAST(f0.node AS VARCHAR) || '-'
                        || CAST(e.v AS VARCHAR) || '-1-'
                        || CAST(f0.walk_idx AS VARCHAR)) AS h
             FROM f0 JOIN e ON f0.node = e.u) c
           QUALIFY h = MIN(h) OVER
             (PARTITION BY start, walk_idx)),
    f2 AS (SELECT start, walk_idx, 2 AS step, v AS node FROM (
             SELECT f1.start, f1.walk_idx, e.v,
                    md5(CAST(f1.node AS VARCHAR) || '-'
                        || CAST(e.v AS VARCHAR) || '-2-'
                        || CAST(f1.walk_idx AS VARCHAR)) AS h
             FROM f1 JOIN e ON f1.node = e.u) c
           QUALIFY h = MIN(h) OVER
             (PARTITION BY start, walk_idx)),
    f3 AS (SELECT start, walk_idx, 3 AS step, v AS node FROM (
             SELECT f2.start, f2.walk_idx, e.v,
                    md5(CAST(f2.node AS VARCHAR) || '-'
                        || CAST(e.v AS VARCHAR) || '-3-'
                        || CAST(f2.walk_idx AS VARCHAR)) AS h
             FROM f2 JOIN e ON f2.node = e.u) c
           QUALIFY h = MIN(h) OVER
             (PARTITION BY start, walk_idx))
    SELECT start, walk_idx, step, node FROM f0
    UNION ALL SELECT * FROM f1
    UNION ALL SELECT * FROM f2
    UNION ALL SELECT * FROM f3
    ORDER BY start, walk_idx, step""")
def _q_kg_walks(spark, sf_dir):
    """DeepWalk corpus over a planted per-block branching graph
    (b->b+1, b->b+2, b+1->b+3, b+2->b+3, b+3->b+1): 2 deterministic
    hash-argmin walks of length 3 per start node; the oracle replays
    the identical md5 recursion."""
    edges = block_edges(spark, sf_dir, [(0, 1), (0, 2), (1, 3), (2, 3),
                                        (3, 1)])
    return (deterministic_walks(edges, walk_len=3, walks_per_node=2)
            .orderBy("start", "walk_idx", "step"))


# minhash-estimate pipeline + the contrastive CASE label
@query("train_contrastive_pairs", oracle="WITH " + _MINHASH_CTE + """,
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
             AS est_jaccard_ppm,
           CASE WHEN n_agree * 1000000 // 8 >= 750000
                THEN 'positive'
                ELSE 'hard_negative' END AS label
    FROM agg ORDER BY doc_a, doc_b""")
def _q_contrastive_pairs(spark, sf_dir):
    """LSH-derived contrastive pairs: banded candidates labeled
    positive / hard-negative by the signature-agreement estimate —
    the embedding-training byproduct of the dedup index."""
    return (contrastive_pairs(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_a", "doc_b"))


# integer-exact Bernoulli: u32(md5) * max_w < w * 2^32
@query("train_weighted_sample", oracle="""
    SELECT doc_id, CAST(1 + doc_id % 10 AS BIGINT) AS weight
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) * 10
          < (1 + doc_id % 10) * 4294967296
    ORDER BY doc_id""")
def _q_train_weighted_sample(spark, sf_dir):
    """Integer-exact weight-proportional Bernoulli downsample
    (weight = 1 + doc_id%10 of max 10): kept iff
    u32(md5) * 10 < weight * 2^32 — no float on either engine."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    df = d.withColumn("weight", (F.lit(1) + F.col("doc_id") % 10)
                      .cast("long"))
    return weighted_sample(df, "weight", 10).orderBy("doc_id")


# pinned-whitespace token counts, integer buckets, one
# padding division per bucket
@query("train_length_buckets", oracle="""
    WITH n AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(lower(trim(text)),
                    '[ \\t\\n\\r\\f\\x0B]+')) END AS n
           FROM documents),
    b AS (SELECT least(n // 64, 15) AS bucket, n FROM n),
    agg AS (SELECT bucket,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS sum_tokens,
            CAST(MAX(n) AS BIGINT) AS max_tokens
            FROM b GROUP BY bucket)
    SELECT bucket, n_docs, sum_tokens, max_tokens,
           CASE WHEN n_docs * max_tokens > 0
                THEN 1.0 - CAST(sum_tokens AS DOUBLE)
                           / (n_docs * max_tokens)
           END AS padding_frac
    FROM agg ORDER BY bucket""")
def _q_length_buckets(spark, sf_dir):
    """Token-length bucketing audit over the REAL documents table
    (64-token linear buckets capped at 15, integer arithmetic, one
    padding-fraction division per bucket); the oracle replays the
    pinned-whitespace token counts and bucket sums."""
    docs = _read(spark, sf_dir, "documents").select("text")
    return length_buckets(docs).orderBy("bucket")


# near-dup leakage across the md5 split: recursive reach over
# the LSH pair graph + the split CTE, train count per cluster
@query("train_leakage_check", oracle="WITH RECURSIVE " + _MINHASH_CTE + """,
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
    members AS (
      SELECT v AS doc_id, MIN(u) AS canonical_doc_id
      FROM reach GROUP BY v),
    sp AS (
      SELECT doc_id,
             CASE WHEN h < 8000 THEN 'train'
                  WHEN h < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id
                        AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS h
            FROM documents)),
    m AS (SELECT members.doc_id, split, canonical_doc_id
          FROM members JOIN sp USING (doc_id)),
    per AS (SELECT canonical_doc_id,
                   CAST(SUM(CASE WHEN split = 'train'
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_train_dups
            FROM m GROUP BY canonical_doc_id)
    SELECT m.doc_id, m.split, m.canonical_doc_id,
           per.n_train_dups
    FROM m JOIN per USING (canonical_doc_id)
    WHERE m.split <> 'train' AND per.n_train_dups > 0
    ORDER BY m.doc_id""")
def _q_train_leakage_check(spark, sf_dir):
    """Train/eval near-dup leakage: eval docs whose MinHash-LSH
    duplicate cluster contains a train doc (the dedup-before-split
    contamination check); composes the LSH pair graph, hash-min
    clusters, and the portable-md5 split.  Oracle: recursive-CTE
    reachability over the same pair graph joined to the split CTE."""
    return (split_leakage(_read(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


@query("train_neyman_allocation", oracle="""
    WITH g AS (
      SELECT source AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY source),
    v AS (SELECT stratum, n_rows,
                 (n_rows * ss - s * s) * 1000000
                   // (n_rows * n_rows) AS var_micro
          FROM g),
    sg AS (SELECT stratum, n_rows,
                  CAST(FLOOR(SQRT(CAST(var_micro AS DOUBLE)))
                       AS BIGINT) AS sigma_floor
           FROM v),
    w AS (SELECT *, n_rows * sigma_floor AS weight FROM sg),
    t AS (SELECT *,
                 SUM(weight) OVER () AS tw,
                 100 * weight // (SUM(weight) OVER ())
                   AS base,
                 row_number() OVER (
                   ORDER BY weight DESC, stratum) AS rn
          FROM w),
    f AS (SELECT *, 100 - SUM(base) OVER () AS rem FROM t)
    SELECT stratum, n_rows, sigma_floor, weight,
           CAST(base + CASE WHEN rn <= rem THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_n,
           CAST(1000 * weight // tw AS BIGINT)
             AS alloc_permille
    FROM f ORDER BY stratum""")
def _q_train_neyman_allocation(spark, sf_dir):
    """Neyman-optimal allocation of a 100-doc sample budget across
    sources by n_chars dispersion — exact integer variance, floored
    correctly-rounded sqrt, largest-weight remainder assignment."""
    return (neyman_allocation(_read(spark, sf_dir, "documents"),
                              sample_n=100)
            .orderBy("stratum"))


@query("train_curriculum", oracle="""
    WITH d AS (SELECT doc_id,
                      CAST(n_chars AS BIGINT) AS difficulty
               FROM documents),
    pv AS (SELECT difficulty,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM d GROUP BY difficulty),
    cum AS (SELECT difficulty,
                   COALESCE(SUM(c) OVER (ORDER BY difficulty
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS cb
            FROM pv),
    r AS (SELECT d.doc_id, d.difficulty,
                 cb + row_number() OVER (
                   PARTITION BY d.difficulty
                   ORDER BY d.doc_id) AS rank
          FROM d JOIN cum USING (difficulty)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
    SELECT doc_id, difficulty, CAST(rank AS BIGINT) AS rank,
           CAST(greatest(1, (10 * rank * rank + n * n - 1)
                            // (n * n)) AS BIGINT)
             AS first_epoch
    FROM r, n ORDER BY doc_id""")
def _q_train_curriculum(spark, sf_dir):
    """Competence-based curriculum schedule over n_chars difficulty
    (root competence, T=10): exact integer first-epoch assignment
    via the two-pass global rank."""
    return (curriculum_schedule(_read(spark, sf_dir, "documents"),
                                "n_chars", total_epochs=10)
            .orderBy("doc_id"))


# INDEPENDENT quadratic dominance test (the operator's
# windowed frontier must agree with brute force)
@query("train_pareto", oracle="""
    WITH t AS (
      SELECT source AS grp, doc_id AS id,
             CAST(n_chars AS BIGINT) AS cost,
             CAST((doc_id * 37) % 1461 AS BIGINT) AS value
      FROM documents)
    SELECT grp AS "group", id, cost, value FROM t p
    WHERE NOT EXISTS (
      SELECT 1 FROM t q
      WHERE q.grp = p.grp AND q.cost <= p.cost
        AND q.value >= p.value
        AND (q.cost < p.cost OR q.value > p.value))
    ORDER BY "group", id""")
def _q_train_pareto(spark, sf_dir):
    """Per-source 2-D Pareto frontier over (length-cost, freshness):
    the skyline of non-dominated docs; the oracle is the INDEPENDENT
    quadratic NOT-EXISTS dominance test."""
    d = _read(spark, sf_dir, "documents")
    items = d.select("source", "doc_id",
                     F.col("n_chars").alias("cost"),
                     ((F.col("doc_id") * 37) % 1461).alias("value"))
    return (pareto_selection(items, "source", "cost", "value",
                             "doc_id")
            .orderBy("group", "id"))
