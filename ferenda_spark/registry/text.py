"""Text-statistics and language-model queries (``text_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.cleaning import c4_rules
from ferenda_spark.operators.dedup import tokens, winnow_fingerprints
from ferenda_spark.operators.extract import _MONTHS, date_normalize
from ferenda_spark.operators.linking import bitext_candidates
from ferenda_spark.operators.textstats import (RAKE_STOPWORDS,
                                               bigram_lm_scores, burstiness,
                                               ccnet_buckets, code_detection,
                                               fingerprint, good_turing_counts,
                                               gopher_rules,
                                               hashed_classifier_score,
                                               heaps_fit, js_divergence,
                                               kneser_ney_bigram,
                                               kneser_ney_doc_score, kwic,
                                               lang_id, llr_collocations,
                                               ngram_novelty, pmi_bigrams,
                                               quality_score, rake_keyphrases,
                                               readability, s_stemmer,
                                               script_mix, simple_good_turing,
                                               split_sentences,
                                               stopword_induction,
                                               textrank_keywords, texttiling,
                                               tfidf_top_terms, token_entropy,
                                               token_stats,
                                               tokenizer_fertility, yules_k,
                                               zipf_fit)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _TOKS_CTE, _read


_PLURALS = ("studies", "queries", "tables", "hashes", "rows",
            "focus", "class", "trees", "scan")


_STOPS = {"de": ("und", "der", "die"), "en": ("the", "and", "of"),
          "es": ("los", "las", "que"), "fr": ("les", "des", "est")}


def _hits(lang_code: str) -> str:
    return " + ".join("len(list_filter(t, x -> x = '%s'))" % w
                      for w in _STOPS[lang_code])


_TOKEN_STATS_SQL = "WITH " + _TOKS_CTE + r"""
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured,
       round(CAST(length(text) AS DOUBLE) / len(t), 4) AS avg_token_len,
       round(CAST(length(text)
             - length(regexp_replace(text,
                 '[^a-zA-Z0-9_ \t\n\r\f\x0B]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS punct_ratio,
       round(CAST(""" + _hits("en") + r""" AS DOUBLE) / len(t), 4)
         AS stopword_ratio
FROM toks"""


def _rake_oracle() -> str:
    """Full SQL replay of the RAKE-lite program (tokens, stopword
    runs, degree/frequency fixed-point scores, per-doc ranks); the
    stopword list comes from the operator module so oracle and code
    cannot drift."""
    stoplist = ", ".join("'%s'" % w for w in RAKE_STOPWORDS)
    return """
            WITH d AS (SELECT
                   'https://example.org/docs/' || doc_id AS url,
                   'alpha' || (doc_id % 5) || ' beta of gamma'
                     || (doc_id % 7) || ' and alpha' || (doc_id % 5)
                     || ' beta epsilon' || (doc_id % 3) AS text
                   FROM documents),
            tk AS (SELECT url,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
                   FROM d),
            tok AS (SELECT url, CAST(i AS BIGINT) - 1 AS pos,
                           ts[CAST(i AS BIGINT)] AS w
                    FROM tk, unnest(generate_series(CAST(1 AS BIGINT),
                                    CAST(len(ts) AS BIGINT))) AS t(i)),
            runs AS (SELECT url, pos, w, w IN ({STOPS}) AS stop,
                     SUM(CASE WHEN w IN ({STOPS}) THEN 1 ELSE 0 END)
                       OVER (PARTITION BY url ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS grp
                     FROM tok),
            words AS (SELECT url, pos, w, grp FROM runs WHERE NOT stop),
            phr AS (SELECT url, grp,
                    string_agg(w, ' ' ORDER BY pos) AS phrase,
                    CAST(COUNT(*) AS BIGINT) AS n_words
                    FROM words GROUP BY url, grp),
            ws AS (SELECT w2.url, w2.w,
                   CAST(SUM(p.n_words) AS BIGINT) AS deg,
                   CAST(COUNT(*) AS BIGINT) AS freq
                   FROM words w2 JOIN phr p USING (url, grp)
                   GROUP BY w2.url, w2.w),
            wsc AS (SELECT url, w, deg * 1000000 // freq AS wscore
                    FROM ws),
            psc AS (SELECT w2.url, w2.grp,
                    CAST(SUM(s.wscore) AS BIGINT) AS score_micro
                    FROM words w2 JOIN wsc s USING (url, w)
                    GROUP BY w2.url, w2.grp),
            cand AS (SELECT p.url, p.phrase,
                     CAST(MAX(p.n_words) AS BIGINT) AS n_words,
                     CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                     CAST(MAX(ps.score_micro) AS BIGINT) AS score_micro
                     FROM psc ps JOIN phr p USING (url, grp)
                     GROUP BY p.url, p.phrase),
            rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY url
                          ORDER BY score_micro DESC, phrase)
                        AS BIGINT) AS "rank" FROM cand)
            SELECT url, phrase, n_words, n_occurrences, score_micro,
                   "rank"
            FROM rk WHERE "rank" <= 3
            ORDER BY url, "rank" """.replace("{STOPS}", stoplist)


@query("text_token_stats", oracle=_TOKEN_STATS_SQL)
def _q_text_token_stats(spark, sf_dir):
    return token_stats(_read(spark, sf_dir, "documents"))


# add-one smoothed bigram LM trained on the corpus itself;
# avg of doubles rounded to 6 digits (sum-order portability)
@query("text_lm_score", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1,
                          greatest(len(tk)-1, 0))) AS i
            FROM toks)),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12
            FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(tk) AS w FROM toks)),
    lm AS (SELECT w1, w2, ln((c12 + 1.0) / (c1 + v)) AS lp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           round(AVG(lp), 6) AS lm_score
    FROM bg JOIN lm USING (w1, w2)
    GROUP BY doc_id ORDER BY doc_id""")
def _q_text_lm_score(spark, sf_dir):
    """CCNet-style corpus-trained bigram-LM quality scoring: every
    count is a map-side-partial hash aggregate, |V| is a broadcast
    1-row aggregate, and the scoring join keys on bigrams — nothing
    shuffles text."""
    return (bigram_lm_scores(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id"))


# unigram Shannon entropy: H = ln n - (1/n) sum c ln c
@query("text_entropy", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    cnt AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(tk) AS w FROM toks)
      GROUP BY doc_id, w)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6)
             AS entropy
    FROM cnt GROUP BY doc_id ORDER BY doc_id""")
def _q_text_entropy(spark, sf_dir):
    """Unigram Shannon entropy per document (nats): the gibberish /
    degenerate-repetition signal next to the LM score; shuffles key
    on (doc, token) then doc, never on text."""
    return (token_entropy(_read(spark, sf_dir, "documents")
                          .select("doc_id", "text"))
            .orderBy("doc_id"))


# top-3 tf*ln(N/df) per doc, ranked on the rounded score
@query("text_tfidf_terms", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    cnt AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(tk) AS w FROM toks)
      GROUP BY doc_id, w),
    dfw AS (SELECT w, COUNT(*) AS df FROM cnt GROUP BY w),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs
           FROM documents),
    sc AS (
      SELECT doc_id, w AS term,
             round(c * ln(n_docs * 1.0 / df), 6) AS tfidf
      FROM cnt JOIN dfw USING (w) CROSS JOIN nd),
    rk AS (
      SELECT doc_id, term, tfidf,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY tfidf DESC, term) AS INT) AS rank
      FROM sc)
    SELECT doc_id, term, rank, tfidf FROM rk
    WHERE rank <= 3 ORDER BY doc_id, rank""")
def _q_text_tfidf_terms(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (statistical counterpart
    of the reference's curated keyword/term aggregation, SURVEY.md
    T10); ranking on the rounded score so the order is
    engine-portable."""
    return (tfidf_top_terms(_read(spark, sf_dir, "documents")
                            .select("doc_id", "text"), k=3)
            .orderBy("doc_id", "rank"))


# script counts over the same planted runs; dominance CASE
# in declaration order (latin, cyrillic, cjk, arabic)
@query("text_script_mix", oracle="""
    WITH d AS (
      SELECT doc_id,
             text || ' ' ||
             CASE WHEN doc_id % 4 = 1
                  THEN repeat('привет мир ',
                              CAST((doc_id % 5 + 1) * 8 AS INT))
                  WHEN doc_id % 4 = 2
                  THEN repeat('中文字符测试 ',
                              CAST((doc_id % 5 + 1) * 8 AS INT))
                  WHEN doc_id % 4 = 3
                  THEN repeat('مرحبا بالعالم ',
                              CAST((doc_id % 5 + 1) * 8 AS INT))
                  ELSE '' END AS text
      FROM documents),
    c AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z]'))
               AS n_latin,
             len(regexp_extract_all(text, '[Ѐ-ӿ]'))
               AS n_cyrillic,
             len(regexp_extract_all(text, '[一-鿿]')) AS n_cjk,
             len(regexp_extract_all(text, '[؀-ۿ]'))
               AS n_arabic
      FROM d)
    SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic,
           CASE WHEN n_latin = greatest(n_latin, n_cyrillic,
                                        n_cjk, n_arabic)
                THEN 'latin'
                WHEN n_cyrillic = greatest(n_latin, n_cyrillic,
                                           n_cjk, n_arabic)
                THEN 'cyrillic'
                WHEN n_cjk = greatest(n_latin, n_cyrillic,
                                      n_cjk, n_arabic)
                THEN 'cjk'
                ELSE 'arabic' END AS dominant_script
    FROM c ORDER BY doc_id""")
def _q_text_script_mix(spark, sf_dir):
    """Unicode-script composition with planted Cyrillic/CJK/Arabic
    runs (the corpus is pure Latin soup): doc_id%4 picks the script,
    doc_id%5 scales the run so dominance provably flips on the long
    runs and stays latin on the short ones — both branches of the
    dominant-script CASE fire."""
    did = F.col("doc_id")
    reps = ((did % 5 + 1) * 8).cast("int")
    planted = (F.when(did % 4 == 1,
                      F.repeat(F.lit("привет мир "), reps))
               .when(did % 4 == 2, F.repeat(F.lit("中文字符测试 "), reps))
               .when(did % 4 == 3, F.repeat(F.lit("مرحبا بالعالم "), reps))
               .otherwise(F.lit("")))
    docs = (_read(spark, sf_dir, "documents")
            .select("doc_id",
                    F.concat(F.col("text"), F.lit(" "), planted)
                    .alias("text")))
    return script_mix(docs).orderBy("doc_id")


# CCNet head/middle/tail: rank-based integer tertiles over
# the (lang, score) aggregate — c_before * 3 // n_lang, the
# whole tie group in the bucket of its first member
@query("text_ccnet_buckets", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1,
                          greatest(len(tk)-1, 0))) AS i
            FROM toks)),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12
            FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(tk) AS w FROM toks)),
    lm AS (SELECT w1, w2, ln((c12 + 1.0) / (c1 + v)) AS lp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v),
    sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                  round(AVG(lp), 6) AS lm_score
           FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id),
    d AS (SELECT s.doc_id, doc.lang, s.n_bigrams, s.lm_score
          FROM sc s JOIN documents doc USING (doc_id)),
    ps AS (SELECT lang, lm_score, COUNT(*) AS c
           FROM d GROUP BY 1, 2),
    cum AS (
      SELECT lang, lm_score,
             COALESCE(SUM(c) OVER (
               PARTITION BY lang ORDER BY lm_score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS c_before,
             SUM(c) OVER (PARTITION BY lang) AS n_lang
      FROM ps),
    bkt AS (
      SELECT lang, lm_score,
             list_value('head', 'middle', 'tail')
               [CAST(c_before * 3 // n_lang AS INT) + 1]
               AS ppl_bucket
      FROM cum)
    SELECT d.doc_id, d.lang, d.n_bigrams, d.lm_score,
           bkt.ppl_bucket
    FROM d JOIN bkt USING (lang, lm_score)
    ORDER BY d.doc_id""")
def _q_text_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity buckets (Wenzek et al.
    2020): head/middle/tail thirds per language by corpus-LM score.
    The tertile rule is rank-based integer arithmetic over the
    groupBy(lang, score) aggregate — never a per-language NTILE
    window over the doc stream (a hot language would be one task)."""
    return (ccnet_buckets(
        _read(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text"))
        .orderBy("doc_id"))


# Gopher A1.1 rules mirrored expression-by-expression
@query("text_gopher_rules", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    feat AS (
      SELECT doc_id, len(tk) AS n_words,
             CAST(list_sum(list_transform(tk, x -> length(x)))
                  AS DOUBLE) / len(tk) AS ml,
             CAST(len(list_filter(tk,
                  x -> regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / len(tk) AS ar,
             len(list_intersect(list_distinct(tk),
                 ['the','be','to','of','and','that','have',
                  'with'])) AS ns
      FROM toks)
    SELECT doc_id, n_words, round(ml, 4) AS mean_word_len,
           round(ar, 4) AS alpha_ratio, ns AS n_stopwords,
           n_words >= 50 AND n_words <= 100000
             AS word_count_ok,
           ml >= 3.0 AND ml <= 10.0 AS mean_len_ok,
           ar >= 0.80 AS alpha_ok,
           ns >= 2 AS stopword_ok,
           (n_words >= 50 AND n_words <= 100000)
           AND (ml >= 3.0 AND ml <= 10.0)
           AND ar >= 0.80 AND ns >= 2 AS keep
    FROM feat ORDER BY doc_id""")
def _q_text_gopher(spark, sf_dir):
    """Gopher rule-set quality filter (Rae et al. 2021 A1.1): per-rule
    booleans + composite keep, one map-side pass, zero shuffles."""
    return (gopher_rules(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id"))


# Spark percentile() and DuckDB quantile_cont share the exact
# linear-interpolation definition — bit-identical, probed
@query("text_length_quantiles", oracle=r"""
    WITH toks AS (
      SELECT source,
             len(string_split_regex(lower(trim(text)),
                 '[ \t\n\r\f\x0B]+')) AS n_tokens
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           round(AVG(n_tokens), 6) AS mean_tokens,
           quantile_cont(n_tokens, 0.1) AS p10,
           quantile_cont(n_tokens, 0.5) AS p50,
           quantile_cont(n_tokens, 0.9) AS p90,
           quantile_cont(n_tokens, 0.99) AS p99
    FROM toks GROUP BY source ORDER BY source""")
def _q_text_length_quantiles(spark, sf_dir):
    """Per-source token-length distribution: exact interpolated
    percentiles (p10/p50/p90/p99) + mean — the corpus-profiling pass
    a mixture designer runs before setting sampling weights.  Exact
    percentile sorts within the aggregate; at 10^12 rows the same
    query swaps to percentile_approx (t-digest, no sort) — the exact
    form is kept here because the oracle compares values."""
    d = (_read(spark, sf_dir, "documents")
         .select("source", F.size(tokens(F.col("text")))
                 .alias("n_tokens")))
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
                 F.expr("percentile(n_tokens, 0.1)").alias("p10"),
                 F.expr("percentile(n_tokens, 0.5)").alias("p50"),
                 F.expr("percentile(n_tokens, 0.9)").alias("p90"),
                 F.expr("percentile(n_tokens, 0.99)").alias("p99"))
            .orderBy("source"))


@query("text_quality", oracle="WITH s AS (" + _TOKEN_STATS_SQL + """)
    SELECT doc_id, round(q, 2) AS quality, q >= 0.7 AS keep FROM (
      SELECT doc_id,
             (CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
              + CASE WHEN avg_token_len <= 12.0 THEN 0.3
                ELSE 0.0 END
              + CASE WHEN punct_ratio <= 0.2 THEN 0.3
                ELSE 0.0 END) AS q
      FROM s)""")
def _q_text_quality(spark, sf_dir):
    return quality_score(_read(spark, sf_dir, "documents"))


@query("text_lang_id", oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             string_split_regex(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    sc AS (
      SELECT doc_id, lang, text,
             """ + _hits("de") + """ AS de,
             """ + _hits("en") + """ AS en,
             """ + _hits("es") + """ AS es,
             """ + _hits("fr") + """ AS fr
      FROM toks),
    g AS (
      SELECT doc_id, lang,
             CASE WHEN regexp_matches(text, '[一-鿿]')
                    THEN 'zh'
                  WHEN fr > greatest(de, en, es) THEN 'fr'
                  WHEN es > greatest(de, en) THEN 'es'
                  WHEN en > de THEN 'en'
                  ELSE 'de' END AS lang_guess
      FROM sc)
    SELECT doc_id, lang, lang_guess,
           lang = lang_guess AS lang_match FROM g""")
def _q_text_lang_id(spark, sf_dir):
    return lang_id(_read(spark, sf_dir, "documents"))


@query("text_fingerprint", oracle="WITH " + _TOKS_CTE + """,
    idx4 AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t)-3, 1))) AS i
      FROM toks),
    fp AS (
      SELECT doc_id, md5(array_to_string(t[i:i+3], ' ')) AS h
      FROM idx4)
    SELECT doc_id,
           array_to_string(list_sort(list(DISTINCT h))[1:4], '')
             AS fingerprint
    FROM fp GROUP BY doc_id""")
def _q_text_fingerprint(spark, sf_dir):
    return fingerprint(_read(spark, sf_dir, "documents"))


# C4 §2.2 page rules over the synthesized sentence structure:
# line kept iff terminal punct AND >= 5 words; page kept iff
# >= 3 sentences and neither planted poison
@query("text_c4_rules", oracle=r"""
    WITH d AS (
      SELECT doc_id,
             regexp_replace(text, ' (the|value) ',
                            '.' || chr(10), 'g')
             || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END
             || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                'page filler with lorem ipsum inside it.'
                ELSE '' END
             || CASE WHEN doc_id % 23 = 0 THEN chr(10) ||
                'js config { block } trailing text here.'
                ELSE '' END AS text
      FROM documents),
    k AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split(text, chr(10)),
               x -> regexp_matches(x, '[.!?"]$')
                    AND len(string_split_regex(trim(x),
                                               ' +')) >= 5)
               AS kept
      FROM d),
    s AS (
      SELECT doc_id,
             len(lines) AS n_lines,
             len(kept) AS n_kept_lines,
             -- array_to_string([]) is NULL in DuckDB
             len(string_split_regex(
               COALESCE(array_to_string(kept, chr(10)), ''),
               '[.!?]')) - 1 AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{') AS has_brace
      FROM k)
    SELECT doc_id, n_lines, n_kept_lines, n_sentences,
           has_lorem, has_brace,
           n_sentences >= 3 AND NOT has_lorem
             AND NOT has_brace AS keep
    FROM s ORDER BY doc_id""")
def _q_text_c4_rules(spark, sf_dir):
    """C4 page rule set (Raffel et al. 2020 §2.2).  The corpus is
    single-line unpunctuated word soup, so sentence structure is
    synthesized deterministically (terminal-punct lines via the
    ' the '/' value ' split, mirrored verbatim in the oracle) and the
    page poisons are planted on closed-form doc-id slices (%17 lorem
    ipsum, %23 curly brace) so both reject branches provably fire."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", " (the|value) ", ".\n"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("."))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0,
                   F.lit("\npage filler with lorem ipsum inside it."))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 23 == 0,
                   F.lit("\njs config { block } trailing text here."))
             .otherwise(F.lit(""))).alias("text"))
    return c4_rules(docs).orderBy("doc_id")


# Flesch reading ease, vowel-group syllable proxy, planted
# sentence structure
@query("text_readability", oracle=r"""
    WITH d AS (
      SELECT doc_id,
             regexp_replace(text, ' (the|value) ',
                            '.' || chr(10), 'g') || '.'
               AS text
      FROM documents),
    m AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)),
                                    '[ \t\n\r\f\x0B]+'))
               AS n_words,
             len(list_filter(
               string_split_regex(text, '[.!?]'),
               x -> trim(x) <> '')) AS n_sentences,
             len(regexp_extract_all(lower(text),
                                    '[aeiouy]+'))
               AS n_syllables
      FROM d)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0
                                    / n_sentences)
                 - 84.6 * (n_syllables * 1.0 / n_words), 6)
             AS flesch
    FROM m WHERE n_words > 0 AND n_sentences > 0
    ORDER BY doc_id""")
def _q_text_readability(spark, sf_dir):
    """Flesch reading ease with the vowel-group syllable proxy over
    the c4-style synthesized sentence structure (the raw corpus is
    unpunctuated word soup, so sentences are planted via the
    ' the '/' value ' split mirrored in the oracle)."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.regexp_replace("text", " (the|value) ", ".\n"),
                 F.lit(".")).alias("text"))
    return readability(docs).orderBy("doc_id")


# PMI collocations: integer-exact scaled ratio, N-free
@query("text_pmi_bigrams", oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \\t\\n\\r\\f\\x0B]+') AS t
      FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 2),
    bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx
      WHERE length(t[i]) > 0 AND length(t[i + 1]) > 0),
    counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM bi GROUP BY w1, w2),
    lft AS (
      SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_left
      FROM counts GROUP BY w1),
    rgt AS (
      SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_right
      FROM counts GROUP BY w2)
    SELECT w1, w2, n_xy, n_left, n_right,
           CAST((CAST(n_xy AS HUGEINT) * 1000000000000)
                // (CAST(n_left AS HUGEINT)
                    * CAST(n_right AS HUGEINT)) AS BIGINT)
             AS pmi_scaled
    FROM counts
    JOIN lft USING (w1) JOIN rgt USING (w2)
    WHERE n_xy >= 3
    ORDER BY pmi_scaled DESC, w1, w2 LIMIT 100""")
def _q_pmi_bigrams(spark, sf_dir):
    """Collocation mining: adjacent-token bigrams ranked by PMI over
    the bigram event space, scored as an exact-integer ppm ratio
    (monotone in PMI) so the ranking never touches float log()."""
    return pmi_bigrams(_read(spark, sf_dir, "documents"),
                       min_count=3, top_n=100)


# closed-form mirror of the planted sentence boundaries
@query("text_sentences", oracle="""
    WITH d AS (
      SELECT doc_id,
             'https://example.org/sent/' || doc_id AS url
      FROM documents),
    i AS (SELECT url, doc_id,
                 unnest([0, 1, 2, 3]) AS sent_idx FROM d)
    SELECT url, sent_idx,
           CASE sent_idx
             WHEN 0 THEN 'Dr. Smith met A. Turing in case '
                         || (doc_id % 9) || '.'
             WHEN 1 THEN 'Then case ' || ((doc_id + 2) % 9)
                         || ' closed!'
             WHEN 2 THEN 'Was it over?'
             ELSE 'The end.' END AS sentence
    FROM i ORDER BY url, sent_idx""")
def _q_sentences(spark, sf_dir):
    """Sentence segmentation with abbreviation guards: planted 4-
    sentence docs where 'Dr.' and the single initial 'A.' must NOT
    split but '.', '!' and '?' boundaries must."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.concat(
        F.lit("Dr. Smith met A. Turing in case "),
        (did % 9).cast("string"),
        F.lit(". Then case "), ((did + 2) % 9).cast("string"),
        F.lit(" closed! Was it over? The end."))
    docs = d.select(
        F.concat(F.lit("https://example.org/sent/"),
                 did.cast("string")).alias("url"), text.alias("text"))
    return split_sentences(docs).orderBy("url", "sent_idx")


# URL-matching self-join + Gale-Church length-ratio filter
@query("text_bitext_pairs", oracle="""
    WITH p AS (
      SELECT 'https://mirror.example/' || lang || '/page/'
               || (doc_id // 5) AS url,
             lang, CAST(length(text) AS BIGINT) AS len,
             doc_id // 5 AS blk
      FROM documents)
    SELECT 'mirror.example' AS host,
           'page/' || a.blk AS path_key,
           a.lang AS lang_a, a.url AS url_a, a.len AS len_a,
           b.lang AS lang_b, b.url AS url_b, b.len AS len_b
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.lang < b.lang
    WHERE greatest(a.len, b.len) <= 2.0 * least(a.len, b.len)
    ORDER BY path_key, lang_a, lang_b, url_a, url_b""")
def _q_bitext_pairs(spark, sf_dir):
    """CCAligned-style URL-matching bitext candidates over planted
    language-segmented urls (https://mirror.example/{lang}/page/{b}
    with b = doc_id div 5): docs sharing a path block in different
    languages pair up, filtered by the Gale-Church length-ratio
    test on the REAL text lengths."""
    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        F.format_string("https://mirror.example/%s/page/%d",
                        F.col("lang"),
                        F.expr("doc_id div 5")).alias("url"),
        "lang", "text")
    return (bitext_candidates(pages, ratio=2.0)
            .orderBy("path_key", "lang_a", "lang_b", "url_a", "url_b"))


# full relational replay of winnowing (k=3, w=4, 12 tokens):
# gram hashes, window replication, rightmost-min composite key
@query("text_winnowing", oracle="""
    WITH pos AS (SELECT CAST(UNNEST(generate_series(1, 10))
                             AS BIGINT) AS pos),
    grams AS (
      SELECT d.doc_id, p.pos,
             md5('w' || ((d.doc_id + p.pos * p.pos) % 7)
                 || ' ' ||
                 'w' || ((d.doc_id + (p.pos + 1) * (p.pos + 1))
                         % 7)
                 || ' ' ||
                 'w' || ((d.doc_id + (p.pos + 2) * (p.pos + 2))
                         % 7)) AS h
      FROM documents d, pos p),
    wins AS (SELECT CAST(UNNEST(generate_series(1, 7))
                         AS BIGINT) AS win),
    reps AS (
      SELECT g.doc_id, g.pos, g.h, w.win
      FROM grams g JOIN wins w
        ON g.pos BETWEEN w.win AND w.win + 3),
    sel AS (
      SELECT doc_id, win,
             MIN(h || lpad(CAST(999999999 - pos AS VARCHAR),
                           9, '0')) AS k
      FROM reps GROUP BY doc_id, win)
    SELECT DISTINCT doc_id,
           999999999 - CAST(substr(k, 33, 9) AS INTEGER) AS pos,
           substr(k, 1, 8) AS fingerprint
    FROM sel ORDER BY doc_id, pos""")
def _q_text_winnowing(spark, sf_dir):
    """Winnowing (MOSS) fingerprints over a closed-form 12-token
    stream per doc (token_i = w((doc_id + i*i) % 7), k=3, w=4); the
    oracle replays gram-hashing, window replication and the
    rightmost-min composite-key selection in SQL."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda i: F.format_string("w%d",
                                  (F.col("doc_id") + i * i) % 7))
    docs = d.select("doc_id", F.array_join(toks, " ").alias("text"))
    return (winnow_fingerprints(docs, k=3, w=4)
            .orderBy("doc_id", "pos"))


# pinned whitespace tokenizer, char vs byte lengths, two
# IEEE ratios in the same operation order as the operator
@query("text_tokenizer_fertility", oracle="""
    WITH toks AS (SELECT lang,
           len(string_split_regex(lower(trim(text)),
               '[ \\t\\n\\r\\f\\x0B]+')) AS nt,
           length(text) AS nc, strlen(text) AS nb
           FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(nc) AS BIGINT) AS total_chars,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           CAST(SUM(nt) AS DOUBLE) * 1000.0 / SUM(nc)
             AS tokens_per_1k_chars,
           CAST(SUM(nb) AS DOUBLE) / SUM(nt) AS bytes_per_token
    FROM toks GROUP BY lang ORDER BY lang""")
def _q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility over the REAL documents table
    (pinned whitespace tokenizer, char and byte lengths); the oracle
    replays the same token/char/byte sums and the two IEEE ratios."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    return tokenizer_fertility(docs).orderBy("lang")


@query("text_rake_keyphrases", oracle=_rake_oracle())
def _q_rake_keyphrases(spark, sf_dir):
    """RAKE-lite keyphrases over planted stopword-delimited prose
    ('alphaA beta of gammaG and alphaA beta epsilonE' -> three phrases
    with distinct fixed-point scores 5M/1M/8M); the oracle replays the
    whole token/run/degree/ratio/rank program in SQL."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    text = F.format_string(
        "alpha%d beta of gamma%d and alpha%d beta epsilon%d",
        did % 5, did % 7, did % 5, did % 3)
    docs = d.select(
        F.format_string("https://example.org/docs/%d", did).alias("url"),
        text.alias("text"))
    return rake_keyphrases(docs, top_k=3).orderBy("url", "rank")


# Zipf: token counts -> rank window -> ln-ln moment-sum OLS
@query("text_zipf_fit", oracle=r"""
    WITH toks AS (
      SELECT lang, unnest(string_split_regex(lower(trim(text)),
               '[ \t\n\r\f\x0B]+')) AS tok
      FROM documents),
    cnt AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE length(tok) > 0 GROUP BY 1, 2),
    rk AS (
      SELECT lang, tok, cnt, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
      FROM cnt),
    sel AS (SELECT * FROM rk WHERE rank <= 100 AND cnt >= 2),
    pts AS (
      SELECT lang, ln(CAST(rank AS DOUBLE)) AS x,
             ln(CAST(cnt AS DOUBLE)) AS y
      FROM sel),
    agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_fit,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts GROUP BY lang),
    fit AS (
      SELECT lang, n_fit,
        CAST(floor((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_fit AS DOUBLE) * sxx - sx * sx)
                   * 1000000) AS BIGINT)
          AS slope_micro,
        CAST(floor((sy - ((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                          / (CAST(n_fit AS DOUBLE) * sxx - sx * sx))
                         * sx) / CAST(n_fit AS DOUBLE)
                   * 1000000) AS BIGINT)
          AS intercept_micro,
        CAST(floor(((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                    * (CAST(n_fit AS DOUBLE) * sxy - sx * sy))
                   / ((CAST(n_fit AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n_fit AS DOUBLE) * syy - sy * sy))
                   * 1000000) AS BIGINT)
          AS r2_micro
      FROM agg)
    SELECT f.lang, f.n_fit, f.slope_micro, f.intercept_micro,
           f.r2_micro,
           t.tok AS top_token
    FROM fit f JOIN rk t ON t.lang = f.lang AND t.rank = 1
    ORDER BY f.lang""")
def _q_text_zipf_fit(spark, sf_dir):
    """Per-language Zipf fit over the REAL documents (top-100 token
    ranks, ln-ln OLS); the oracle replays the token counts, the
    rank window, and the moment-sum regression."""
    d = _read(spark, sf_dir, "documents").select("lang", "text")
    return zipf_fit(d).orderBy("lang")


# Heaps: first-occurrence doc aggregation -> cumulative
# series -> ln-ln moment-sum OLS
@query("text_heaps_law", oracle=r"""
    WITH toks AS (
      SELECT source, doc_id,
             unnest(string_split_regex(lower(trim(text)),
               '[ \t\n\r\f\x0B]+')) AS tok
      FROM documents),
    tk AS (SELECT * FROM toks WHERE length(tok) > 0),
    per_doc AS (
      SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM tk GROUP BY 1, 2),
    fst AS (
      SELECT source, tok, MIN(doc_id) AS first_doc
      FROM tk GROUP BY 1, 2),
    newt AS (
      SELECT source, first_doc AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_new
      FROM fst GROUP BY 1, 2),
    ser AS (
      SELECT p.source, p.doc_id,
        SUM(p.n_toks) OVER (PARTITION BY p.source
          ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
          AS cum_toks,
        SUM(COALESCE(n.n_new, 0)) OVER (PARTITION BY p.source
          ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
          AS cum_types
      FROM per_doc p
      LEFT JOIN newt n USING (source, doc_id)),
    pts AS (
      SELECT source, ln(CAST(cum_toks AS DOUBLE)) AS x,
             ln(CAST(cum_types AS DOUBLE)) AS y
      FROM ser WHERE cum_toks > 0),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fit,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts GROUP BY source),
    fit AS (
      SELECT source, n_fit,
        CAST(floor((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_fit AS DOUBLE) * sxx - sx * sx)
                   * 1000000) AS BIGINT)
          AS slope_micro,
        CAST(floor((sy - ((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                          / (CAST(n_fit AS DOUBLE) * sxx - sx * sx))
                         * sx) / CAST(n_fit AS DOUBLE)
                   * 1000000) AS BIGINT)
          AS intercept_micro,
        CAST(floor(((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                    * (CAST(n_fit AS DOUBLE) * sxy - sx * sy))
                   / ((CAST(n_fit AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n_fit AS DOUBLE) * syy - sy * sy))
                   * 1000000) AS BIGINT)
          AS r2_micro
      FROM agg),
    nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM per_doc GROUP BY source)
    SELECT f.source, f.n_fit, f.slope_micro, f.intercept_micro,
           f.r2_micro,
           nd.n_docs
    FROM fit f JOIN nd USING (source)
    ORDER BY f.source""")
def _q_text_heaps_law(spark, sf_dir):
    """Per-source Heaps'-law fit over the REAL documents (vocabulary
    growth from first-occurrence doc aggregation, no per-token global
    order); the oracle replays the first-doc groupBy, the two
    cumulative windows, and the regression."""
    d = _read(spark, sf_dir, "documents").select(
        "source", "doc_id", "text")
    return heaps_fit(d).orderBy("source")


# TextRank: window-2 weighted co-occurrence graph, 3 unrolled
# weighted-PageRank rounds with per-round 9-decimal rounding
@query("text_textrank", oracle=r"""
    WITH toks AS (
      SELECT lang, doc_id, pos, tok FROM (
        SELECT lang, doc_id,
               generate_subscripts(arr, 1) AS pos,
               unnest(arr) AS tok
        FROM (SELECT lang, doc_id,
                     string_split_regex(lower(trim(text)),
                       '[ \t\n\r\f\x0B]+') AS arr
              FROM documents))
      WHERE length(tok) > 0),
    prs AS (
      SELECT a.lang, a.tok AS t1, b.tok AS t2
      FROM toks a JOIN toks b
        ON b.lang = a.lang AND b.doc_id = a.doc_id
       AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)
      WHERE a.tok <> b.tok),
    und AS MATERIALIZED (
      SELECT lang, least(t1, t2) AS u, greatest(t1, t2) AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM prs GROUP BY 1, 2, 3),
    sym AS MATERIALIZED (
      SELECT lang, u AS src, v AS dst, w FROM und
      UNION ALL SELECT lang, v, u, w FROM und),
    outw AS MATERIALIZED (
      SELECT lang, src, CAST(SUM(w) AS BIGINT) AS ow
      FROM sym GROUP BY 1, 2),
    ce AS MATERIALIZED (
      SELECT sym.lang, sym.src, sym.dst,
             CAST(sym.w AS DOUBLE) / outw.ow AS p
      FROM sym JOIN outw ON outw.lang = sym.lang
                       AND outw.src = sym.src),
    s0 AS MATERIALIZED (
      SELECT DISTINCT lang, src AS tok, 1.0 AS s FROM sym),
    i1 AS MATERIALIZED (
      SELECT ce.lang, ce.dst AS tok,
             round(SUM(ce.p * s0.s), 9) AS inc
      FROM ce JOIN s0 ON s0.lang = ce.lang
                     AND s0.tok = ce.src
      GROUP BY 1, 2),
    s1 AS MATERIALIZED (
      SELECT s0.lang, s0.tok,
             round(0.15000000000000002
                   + 0.85 * COALESCE(i1.inc, 0.0), 9) AS s
      FROM s0 LEFT JOIN i1 ON i1.lang = s0.lang
                          AND i1.tok = s0.tok),
    i2 AS MATERIALIZED (
      SELECT ce.lang, ce.dst AS tok,
             round(SUM(ce.p * s1.s), 9) AS inc
      FROM ce JOIN s1 ON s1.lang = ce.lang
                     AND s1.tok = ce.src
      GROUP BY 1, 2),
    s2 AS MATERIALIZED (
      SELECT s1.lang, s1.tok,
             round(0.15000000000000002
                   + 0.85 * COALESCE(i2.inc, 0.0), 9) AS s
      FROM s1 LEFT JOIN i2 ON i2.lang = s1.lang
                          AND i2.tok = s1.tok),
    i3 AS MATERIALIZED (
      SELECT ce.lang, ce.dst AS tok,
             round(SUM(ce.p * s2.s), 9) AS inc
      FROM ce JOIN s2 ON s2.lang = ce.lang
                     AND s2.tok = ce.src
      GROUP BY 1, 2),
    s3 AS MATERIALIZED (
      SELECT s2.lang, s2.tok,
             round(0.15000000000000002
                   + 0.85 * COALESCE(i3.inc, 0.0), 9) AS s
      FROM s2 LEFT JOIN i3 ON i3.lang = s2.lang
                          AND i3.tok = s2.tok)
    SELECT lang, tok AS token, rank, round(s, 6) AS score
    FROM (SELECT lang, tok, s,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY s DESC, tok) AS rank
          FROM s3) t
    WHERE rank <= 10 ORDER BY lang, rank""")
def _q_text_textrank(spark, sf_dir):
    """TextRank keywords over the REAL documents (window-2 weighted
    co-occurrence graph per language, 3 synchronous weighted-PageRank
    rounds, per-round 9-decimal re-rounding); the oracle replays the
    position joins and unrolls the same 3 rounds."""
    d = _read(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text")
    return (textrank_keywords(d, window=2, iters=3, top_k=10)
            .orderBy("lang", "rank"))


# JSD: tagged token counts, termwise p/2*lg(p/m) + q/2*lg(q/m)
@query("text_js_divergence", oracle=r"""
    WITH tagged AS (
      SELECT tok,
             CAST(SUM(CASE WHEN src = 'src0' THEN 1 ELSE 0
                      END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN src = 'src1' THEN 1 ELSE 0
                      END) AS BIGINT) AS c_b
      FROM (SELECT source AS src,
                   unnest(string_split_regex(lower(trim(text)),
                     '[ \t\n\r\f\x0B]+')) AS tok
            FROM documents WHERE source IN ('src0', 'src1'))
      WHERE length(tok) > 0 GROUP BY 1),
    tot AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b
            FROM tagged),
    terms AS (
      SELECT c_a, c_b,
             CAST(c_a AS DOUBLE) / n_a AS p,
             CAST(c_b AS DOUBLE) / n_b AS q,
             n_a, n_b
      FROM tagged CROSS JOIN tot)
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN c_a > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS vocab_a,
           CAST(SUM(CASE WHEN c_b > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS vocab_b,
           CAST(SUM(CASE WHEN c_a > 0 AND c_b > 0 THEN 1
                    ELSE 0 END) AS BIGINT) AS vocab_shared,
           round(SUM(
             (CASE WHEN c_a > 0
                   THEN p / 2 * ln(p / ((p + q) / 2.0))
                        / ln(2.0)
                   ELSE 0.0 END)
             + (CASE WHEN c_b > 0
                     THEN q / 2 * ln(q / ((p + q) / 2.0))
                          / ln(2.0)
                     ELSE 0.0 END)), 6) AS jsd
    FROM terms""")
def _q_text_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between src0's and src1's token
    unigram distributions over the REAL documents; the oracle replays
    the tagged token counts and the termwise p/2*lg(p/m) sum."""
    d = _read(spark, sf_dir, "documents").select("source", "text")
    return js_divergence(d, "source", "src0", "src1")


# Yule's K: exact S1/S2 long sums per language
@query("text_yules_k", oracle=r"""
    WITH counts AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang,
                   unnest(string_split_regex(lower(trim(text)),
                     '[ \t\n\r\f\x0B]+')) AS tok
            FROM documents)
      WHERE length(tok) > 0 GROUP BY 1, 2),
    agg AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hapax,
             SUM(c * c) AS s2
      FROM counts GROUP BY 1)
    SELECT lang, n_tokens, n_types, hapax,
           round(10000.0
                 * (CAST(s2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6)
             AS yules_k
    FROM agg ORDER BY lang""")
def _q_text_yules_k(spark, sf_dir):
    """Yule's characteristic K per language over the REAL documents
    (repeat-rate vocabulary richness from exact S1/S2 long sums, with
    type and hapax counts); the oracle replays the token counts and
    the 10^4*(S2-S1)/S1^2 identity."""
    d = _read(spark, sf_dir, "documents").select("lang", "text")
    return yules_k(d).orderBy("lang")


# Dunning LLR: exact long contingency cells, per-row xlx
# expression rounded to 6 BEFORE the ranked top-100 cut
@query("text_llr_collocations", oracle="WITH " + _TOKS_CTE + r""",
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 2),
    bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx
      WHERE length(t[i]) > 0 AND length(t[i + 1]) > 0),
    counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM bi GROUP BY 1, 2),
    lm AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_left
           FROM counts GROUP BY w1),
    rm AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_right
           FROM counts GROUP BY w2),
    tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot
            FROM counts),
    scored AS (
      SELECT w1, w2, n_xy, n_left, n_right,
             round(2.0 * (
               (CASE WHEN n_xy <= 0 THEN 0.0 ELSE
                n_xy * ln(CAST(n_xy AS DOUBLE)) END)
             + (CASE WHEN n_left - n_xy <= 0 THEN 0.0 ELSE
                (n_left - n_xy)
                * ln(CAST(n_left - n_xy AS DOUBLE)) END)
             + (CASE WHEN n_right - n_xy <= 0 THEN 0.0 ELSE
                (n_right - n_xy)
                * ln(CAST(n_right - n_xy AS DOUBLE)) END)
             + (CASE WHEN n_tot - n_left - n_right + n_xy <= 0
                THEN 0.0 ELSE
                (n_tot - n_left - n_right + n_xy)
                * ln(CAST(n_tot - n_left - n_right + n_xy
                          AS DOUBLE)) END)
             - (CASE WHEN n_left <= 0 THEN 0.0 ELSE
                n_left * ln(CAST(n_left AS DOUBLE)) END)
             - (CASE WHEN n_tot - n_left <= 0 THEN 0.0 ELSE
                (n_tot - n_left)
                * ln(CAST(n_tot - n_left AS DOUBLE)) END)
             - (CASE WHEN n_right <= 0 THEN 0.0 ELSE
                n_right * ln(CAST(n_right AS DOUBLE)) END)
             - (CASE WHEN n_tot - n_right <= 0 THEN 0.0 ELSE
                (n_tot - n_right)
                * ln(CAST(n_tot - n_right AS DOUBLE)) END)
             + n_tot * ln(CAST(n_tot AS DOUBLE))), 6) AS llr
      FROM counts JOIN lm USING (w1) JOIN rm USING (w2)
      CROSS JOIN tot
      WHERE n_xy >= 3),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               ORDER BY llr DESC, w1, w2) AS BIGINT) AS rank
      FROM scored)
    SELECT w1, w2, n_xy, n_left, n_right, llr, rank
    FROM ranked WHERE rank <= 100 ORDER BY rank""")
def _q_text_llr_collocations(spark, sf_dir):
    """Dunning log-likelihood-ratio collocations over the REAL
    documents (adjacent bigrams, exact long contingency cells,
    per-row xlx expression rounded to 6 before the top-100 ranked
    cut); the oracle replays the margins and the 9-term identity."""
    d = _read(spark, sf_dir, "documents").select("text")
    return (llr_collocations(d, min_count=3, top_n=100)
            .orderBy("rank"))


@query("text_ngram_novelty", oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                       '[ 	

]+'), t -> length(t) > 0) AS l
              FROM documents),
            grams AS (
              SELECT DISTINCT doc_id,
                     l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS ngram
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1,
                            len(l) - 2)) AS i)),
            first AS (
              SELECT ngram, MIN(doc_id) AS f FROM grams GROUP BY ngram)
            SELECT g.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ngrams,
                   CAST(SUM(CASE WHEN f = g.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   CAST(1000 * SUM(CASE WHEN f = g.doc_id THEN 1
                                   ELSE 0 END) // COUNT(*) AS BIGINT)
                     AS novelty_permille
            FROM grams g JOIN first USING (ngram)
            GROUP BY g.doc_id ORDER BY g.doc_id""")
def _q_ngram_novelty(spark, sf_dir):
    """Token-trigram novelty per document vs everything earlier in
    ingest order (min-doc_id first occurrence): the marginal-
    information curation signal; oracle replays the explode /
    first-occurrence / integer-permille pipeline."""
    return (ngram_novelty(_read(spark, sf_dir, "documents")
                          .select("doc_id", "text"), n=3)
            .orderBy("doc_id"))


@query("text_date_normalize", oracle="""
    WITH m AS (
      SELECT ['january','february','march','april','may',
              'june','july','august','september','october',
              'november','december'] AS mn),
    b AS (
      SELECT doc_id,
             'https://example.org/res/doc/' || doc_id AS url,
             doc_id % 12 + 1 AS m1,
             doc_id % 28 + 1 AS d1,
             2019 + doc_id % 5 AS y1,
             (doc_id * 5) % 12 + 1 AS m2,
             (doc_id * 3) % 28 + 1 AS d2,
             2018 + (doc_id * 7) % 6 AS y2
      FROM documents),
    rows_ AS (
      SELECT url, CAST(0 AS BIGINT) AS pos,
             mn[m1] || ' ' || d1 || ', ' || y1 AS mention,
             y1 || '-' || lpad(CAST(m1 AS VARCHAR), 2, '0')
                || '-' || lpad(CAST(d1 AS VARCHAR), 2, '0')
               AS iso_date,
             'mdy' AS form
      FROM b, m
      UNION ALL
      SELECT url, CAST(0 AS BIGINT),
             d2 || ' ' || substr(mn[m2], 1, 3) || ' ' || y2,
             y2 || '-' || lpad(CAST(m2 AS VARCHAR), 2, '0')
                || '-' || lpad(CAST(d2 AS VARCHAR), 2, '0'),
             'dmy'
      FROM b, m)
    SELECT url, pos, mention, iso_date, form
    FROM rows_ ORDER BY url, form, pos""")
def _q_text_date_normalize(spark, sf_dir):
    """Textual date normalization over planted prose dates: one
    month-name-first mention ("January 7, 2020", full name) and one
    day-first mention ("12 feb 2021", 3-letter) per doc, both
    emitted closed-form by the oracle."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    months_full = F.array(*[F.lit(m.capitalize()) for m in _MONTHS])
    months_abbr = F.array(*[F.lit(m[:3]) for m in _MONTHS])
    m1 = F.element_at(months_full, (did % 12 + 1).cast("int"))
    d1 = (did % 28 + 1).cast("string")
    y1 = (2019 + did % 5).cast("string")
    m2 = F.element_at(months_abbr, ((did * 5) % 12 + 1).cast("int"))
    d2 = ((did * 3) % 28 + 1).cast("string")
    y2 = (2018 + (did * 7) % 6).cast("string")
    text = F.concat(F.lit("Published "), m1, F.lit(" "), d1,
                    F.lit(", "), y1, F.lit(". Received "), d2,
                    F.lit(" "), m2, F.lit(" "), y2, F.lit("."))
    docs = d.select(
        F.concat(F.lit("https://example.org/res/doc/"),
                 did.cast("string")).alias("url"),
        text.alias("text"))
    return (date_normalize(docs)
            .orderBy("url", "form", "pos"))


# planted snippet: 2 braces, 3 semicolons, 2 indented lines,
# 2 assignments, 5 lines -> score 1400; prose rows are
# punctuation-free single lines
@query("text_code_detection", oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END
                AS BIGINT) AS n_braces,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END
                AS BIGINT) AS n_semicolons,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END
                AS BIGINT) AS n_indented,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END
                AS BIGINT) AS n_assign,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 1 END
                AS BIGINT) AS n_lines,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1400 ELSE 0 END
                AS BIGINT) AS code_score_permille,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS is_code
    FROM documents ORDER BY doc_id""")
def _q_text_code_detection(spark, sf_dir):
    """Code-vs-prose gating: every 5th doc gets a planted C-ish
    snippet (braces/semicolons/indents closed-form), the rest keep
    their prose text (verified free of code punctuation)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    code = F.concat(
        F.lit("int main() {\n    return "), did.cast("string"),
        F.lit(";\n}\nx = 1;\n    y = 2;"))
    docs = d.select(
        "doc_id",
        F.when(did % 5 == 0, code).otherwise(F.col("text"))
        .alias("text"))
    return code_detection(docs).orderBy("doc_id")


@query("text_kwic", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
               '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    pos AS (SELECT doc_id, t, len(t) AS n, unnest(t) AS term,
                   generate_subscripts(t, 1) AS p
            FROM toks)
    SELECT doc_id, term, CAST(p AS INT) AS pos,
           COALESCE(array_to_string(
             t[greatest(1, p - 3):p - 1], ' '), '')
             AS left_ctx,
           COALESCE(array_to_string(
             t[p + 1:least(n, p + 3)], ' '), '')
             AS right_ctx
    FROM pos WHERE term IN ('spark', 'table', 'hash')
    ORDER BY doc_id, pos""")
def _q_text_kwic(spark, sf_dir):
    """Keyword-in-context concordance for three probe terms over the
    real corpus: map-only tokenize/posexplode/slice, 1-based
    positions, +-3-token contexts."""
    return (kwic(_read(spark, sf_dir, "documents"),
                 ["spark", "table", "hash"])
            .orderBy("doc_id", "pos"))


# Harman S-stemmer rules as CASE algebra over the vocab
@query("text_s_stemmer", oracle=r"""
    WITH d2 AS (
      SELECT lower(trim(text)) || ' ' ||
             (['studies', 'queries', 'tables', 'hashes',
               'rows', 'focus', 'class', 'trees',
               'scan'])[CAST(doc_id % 9 + 1 AS INT)] AS text
      FROM documents),
    toks AS (SELECT string_split_regex(text,
               '[ \t\n\r\f\x0B]+') AS t FROM d2),
    vocab AS (SELECT unnest(t) AS token FROM toks),
    v AS (SELECT token,
                 CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM vocab GROUP BY token)
    SELECT token,
           CASE
             WHEN token LIKE '%ies' AND token NOT LIKE '%eies'
                  AND token NOT LIKE '%aies'
               THEN substr(token, 1, length(token) - 3) || 'y'
             WHEN token LIKE '%es' AND token NOT LIKE '%aes'
                  AND token NOT LIKE '%ees'
                  AND token NOT LIKE '%oes'
               THEN substr(token, 1, length(token) - 1)
             WHEN token LIKE '%s' AND token NOT LIKE '%us'
                  AND token NOT LIKE '%ss'
               THEN substr(token, 1, length(token) - 1)
             ELSE token END AS stem,
           CASE
             WHEN token LIKE '%ies' AND token NOT LIKE '%eies'
                  AND token NOT LIKE '%aies' THEN 'ies'
             WHEN token LIKE '%es' AND token NOT LIKE '%aes'
                  AND token NOT LIKE '%ees'
                  AND token NOT LIKE '%oes' THEN 'es'
             WHEN token LIKE '%s' AND token NOT LIKE '%us'
                  AND token NOT LIKE '%ss' THEN 's'
             ELSE 'none' END AS rule,
           n_occurrences
    FROM v ORDER BY token""")
def _q_text_s_stemmer(spark, sf_dir):
    """Harman S-stemmer over the corpus vocabulary plus one planted
    plural per doc covering every rule and exception (ies->y, es->e,
    -s, -us/-ss/-ees guards)."""
    d = _read(spark, sf_dir, "documents")
    word = F.element_at(F.array(*[F.lit(w) for w in _PLURALS]),
                        (F.col("doc_id") % 9 + 1).cast("int"))
    return (s_stemmer(d.select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), word)
        .alias("text")))
        .orderBy("token"))


@query("text_burstiness", oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)),
             '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
    pc AS (SELECT doc_id, term,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM pairs GROUP BY doc_id, term),
    pt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(c) AS BIGINT) AS total,
                  CAST(SUM(c * c) AS BIGINT) AS sum_sq
           FROM pc GROUP BY term HAVING SUM(c) >= 20),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           FROM documents)
    SELECT term, n_docs, total,
           CAST((n * sum_sq - total * total) * 1000
                // (n * total) AS BIGINT) AS vmr_milli
    FROM pt, nn ORDER BY term""")
def _q_text_burstiness(spark, sf_dir):
    """Church-Gale term burstiness (variance-to-mean of per-doc
    counts over all N docs) for the real corpus vocabulary, exact
    integer milli-scale."""
    return (burstiness(_read(spark, sf_dir, "documents"))
            .orderBy("term"))


@query("text_texttiling", oracle=r"""
    WITH d2 AS (
      SELECT doc_id,
             repeat('topica' || (doc_id % 5) || ' ', 40)
               || repeat('topicb' || (doc_id % 7) || ' ', 40)
               || text AS t
      FROM documents),
    tk AS (SELECT doc_id,
                  string_split_regex(lower(trim(t)),
                    '[ \t\n\r\f\x0B]+') AS ts
           FROM d2),
    pos AS (SELECT doc_id,
                   (generate_subscripts(ts, 1) - 1) // 20
                     AS w,
                   unnest(ts) AS term
            FROM tk),
    counts AS MATERIALIZED (
      SELECT doc_id, w, term,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM pos GROUP BY doc_id, w, term),
    dots AS (SELECT a.doc_id, a.w AS g,
                    CAST(SUM(a.c * b.c) AS BIGINT) AS dot
             FROM counts a
             JOIN counts b ON a.doc_id = b.doc_id
              AND a.term = b.term AND b.w = a.w + 1
             GROUP BY a.doc_id, a.w),
    norms AS (SELECT doc_id, w,
                     CAST(SUM(c * c) AS BIGINT) AS nsq
              FROM counts GROUP BY doc_id, w),
    gaps AS (
      SELECT na.doc_id, na.w AS g,
             CAST(COALESCE(dots.dot, 0) * 1000
                  // CAST(floor(sqrt(CAST(na.nsq AS DOUBLE)))
                          AS BIGINT)
                  // CAST(floor(sqrt(CAST(nb.nsq AS DOUBLE)))
                          AS BIGINT) AS BIGINT) AS sim_milli
      FROM norms na
      JOIN norms nb ON nb.doc_id = na.doc_id
       AND nb.w = na.w + 1
      LEFT JOIN dots ON dots.doc_id = na.doc_id
       AND dots.g = na.w),
    lg AS (SELECT doc_id, g, sim_milli,
                  lag(sim_milli) OVER (PARTITION BY doc_id
                    ORDER BY g) AS pv,
                  lead(sim_milli) OVER (PARTITION BY doc_id
                    ORDER BY g) AS nx
           FROM gaps)
    SELECT doc_id, CAST(g AS BIGINT) AS gap_idx, sim_milli,
           CAST(COALESCE(pv - sim_milli, 0)
                + COALESCE(nx - sim_milli, 0) AS BIGINT)
             AS depth,
           ((pv IS NULL OR sim_milli < pv)
            AND (nx IS NULL OR sim_milli < nx)
            AND (COALESCE(pv - sim_milli, 0)
                 + COALESCE(nx - sim_milli, 0)) > 300)
             AS is_boundary
    FROM lg ORDER BY doc_id, gap_idx""")
def _q_text_texttiling(spark, sf_dir):
    """TextTiling over planted two-topic documents (40 topic-A
    tokens, 40 topic-B tokens, then the real text): the A|B gap is
    a full-depth valley; the real-text tail contributes varied
    similarities."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t2 = F.concat(
        F.repeat(F.concat(F.lit("topica"), (did % 5).cast("string"),
                          F.lit(" ")), 40),
        F.repeat(F.concat(F.lit("topicb"), (did % 7).cast("string"),
                          F.lit(" ")), 40),
        F.col("text"))
    return (texttiling(d.select("doc_id", t2.alias("text")))
            .orderBy("doc_id", "gap_idx"))


@query("text_stopword_induction", oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)),
             '[ \t\n\r\f\x0B]+') AS t
      FROM documents),
    pairs AS (SELECT doc_id, unnest(t) AS term FROM toks),
    pc AS (SELECT doc_id, term,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM pairs GROUP BY doc_id, term),
    pt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(c) AS BIGINT) AS total,
                  CAST(SUM(c * c) AS BIGINT) AS sum_sq
           FROM pc GROUP BY term HAVING SUM(c) >= 20),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           FROM documents)
    SELECT term, n_docs,
           CAST(n_docs * 1000 // n AS BIGINT) AS df_permille,
           CAST((n * sum_sq - total * total) * 1000
                // (n * total) AS BIGINT) AS vmr_milli,
           (n_docs * 1000 // n >= 500)
           AND ((n * sum_sq - total * total) * 1000
                // (n * total) <= 2000) AS is_stopword
    FROM pt, nn ORDER BY term""")
def _q_text_stopword_induction(spark, sf_dir):
    """Statistical stopword induction over the corpus: ubiquitous
    (df >= 50%) AND non-bursty (VMR <= 2000 milli) terms flag as
    stopwords."""
    return (stopword_induction(_read(spark, sf_dir, "documents"))
            .orderBy("term"))


# hashed linear classifier: same md5 bucket + Knuth-residue
# weights + integer mean-pooling, replayed closed-form
@query("text_hashed_classifier", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),
                    '[ \t\n\r\f\x0B]+')) AS tok
      FROM documents),
    feats AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
               % 4096 AS b
      FROM toks WHERE tok <> ''),
    w AS (
      SELECT i AS bucket,
             (i * 2654435761) % 2001 - 1000 AS wm
      FROM (SELECT unnest(range(4096)) AS i)),
    per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.wm) AS BIGINT) AS wsum
      FROM feats JOIN w ON feats.b = w.bucket
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(per.n_tokens, 0) AS BIGINT)
             AS n_tokens,
           CAST(100 + COALESCE(per.wsum // per.n_tokens, 0)
             AS BIGINT) AS score_milli,
           (100 + COALESCE(per.wsum // per.n_tokens, 0))
             >= 150 AS keep
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per USING (doc_id)
    ORDER BY doc_id""")
def _q_text_hashed_classifier(spark, sf_dir):
    """fastText-style hashed linear quality filter (textstats.hashed_
    classifier_score): deterministic closed-form weight table
    (bucket, weight_milli in [-1000, 1000] via a Knuth-multiplier
    residue) broadcast-joined against md5-hashed unigram features;
    integer mean-pooling so the oracle replays the score exactly."""
    weights = spark.range(0, 4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 2654435761) % 2001 - 1000).cast("long")
        .alias("weight_milli"))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (hashed_classifier_score(docs, weights, n_buckets=4096,
                                    bias_milli=100,
                                    threshold_milli=150)
            .orderBy("doc_id"))


# Kneser-Ney bigram: quarter-integer discount, HUGEINT-exact
@query("text_kneser_ney", oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    pr AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM (SELECT tk, unnest(range(1, len(tk))) AS i
            FROM toks WHERE len(tk) >= 2)
      WHERE tk[i] <> '' AND tk[i + 1] <> ''),
    c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
          FROM pr GROUP BY w1, w2),
    lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS d1_w1
            FROM c GROUP BY w1),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont_w2
            FROM c GROUP BY w2),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c)
    SELECT w1, w2, c12, c1, d1_w1, ncont_w2,
           CAST(1000000 * (greatest(4 * c12 - 3, 0)
                           * CAST(t AS HUGEINT)
                           + 3 * d1_w1
                             * CAST(ncont_w2 AS HUGEINT))
                // (4 * CAST(c1 AS HUGEINT) * t)
             AS BIGINT) AS p_kn_ppm
    FROM c JOIN lft USING (w1) JOIN rgt USING (w2), tt
    ORDER BY w1, w2""")
def _q_text_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model table (textstats.
    kneser_ney_bigram, d=3/4): the distinct-continuation smoothing
    that beats add-k (Chen & Goodman 1999), restated in exact
    quarter-integer arithmetic so the DuckDB replay matches
    bit-for-bit.  Output = the model artifact a scorer would
    broadcast-join."""
    return (kneser_ney_bigram(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("w1", "w2"))


# KN doc scoring: model CTE shared with text_kneser_ney
@query("text_kn_score", oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)),
                                '[ \t\n\r\f\x0B]+') AS tk
      FROM documents),
    pr AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
            FROM toks WHERE len(tk) >= 2)
      WHERE tk[i] <> '' AND tk[i + 1] <> ''),
    c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
          FROM pr GROUP BY w1, w2),
    lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS d1_w1
            FROM c GROUP BY w1),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont_w2
            FROM c GROUP BY w2),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c),
    model AS (
      SELECT w1, w2,
             CAST(1000000 * (greatest(4 * c12 - 3, 0)
                             * CAST(t AS HUGEINT)
                             + 3 * d1_w1
                               * CAST(ncont_w2 AS HUGEINT))
                  // (4 * CAST(c1 AS HUGEINT) * t)
               AS BIGINT) AS p_kn_ppm
      FROM c JOIN lft USING (w1) JOIN rgt USING (w2), tt),
    sc AS (
      SELECT pr.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(p_kn_ppm) AS BIGINT) AS psum
      FROM pr JOIN model USING (w1, w2)
      GROUP BY pr.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT)
             AS n_bigrams,
           CAST(COALESCE(sc.psum // sc.n_bigrams, 0)
             AS BIGINT) AS score_ppm
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN sc USING (doc_id)
    ORDER BY d.doc_id""")
def _q_text_kn_score(spark, sf_dir):
    """Per-doc LM scoring under the corpus Kneser-Ney bigram model
    (the CCNet-style filter application): integer mean of the doc's
    bigram ppm probabilities, unseen bigrams contributing no
    observed mass."""
    return (kneser_ney_doc_score(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id"))


# Good-Turing frequency-of-frequencies + adjusted counts
@query("text_good_turing", oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)),
                    '[ \t\n\r\f\x0B]+')) AS term
      FROM documents),
    tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS r
           FROM toks WHERE term <> '' GROUP BY term),
    coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM tc GROUP BY r),
    lagged AS (
      SELECT r, n_r,
             lead(r) OVER (ORDER BY r) AS next_r,
             lead(n_r) OVER (ORDER BY r) AS next_n
      FROM coc)
    SELECT r, n_r,
           CASE WHEN next_r = r + 1
                THEN CAST((r + 1) * next_n * 1000 // n_r
                     AS BIGINT) END AS r_star_milli
    FROM lagged ORDER BY r""")
def _q_text_good_turing(spark, sf_dir):
    """Good-Turing count-of-counts over the unigram vocabulary with
    the adjusted count r* = (r+1) n_{r+1}/n_r as integer milli
    (NULL where n_{r+1}=0 — the undefined tail SGT power-law fits
    exist for)."""
    return (good_turing_counts(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("r"))


# Simple Good-Turing: Z transform + log-log OLS, expression
# order pinned to the Spark side
@query("text_sgt", oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)),
                    '[ \t\n\r\f\x0B]+')) AS term
      FROM documents),
    tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS r
           FROM toks WHERE term <> '' GROUP BY term),
    coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM tc GROUP BY r),
    zt AS (
      SELECT r, n_r,
             2.0 * n_r / (COALESCE(lead(r) OVER (ORDER BY r),
                                   2 * r - COALESCE(
                                     lag(r) OVER (ORDER BY r),
                                     0))
                          - COALESCE(lag(r) OVER (ORDER BY r),
                                     0)) AS z
      FROM coc),
    pts AS (SELECT r, n_r, z, ln(CAST(r AS DOUBLE)) AS x,
                   ln(z) AS y FROM zt),
    ft AS (
      SELECT (CAST(COUNT(*) AS DOUBLE) * SUM(x * y)
              - SUM(x) * SUM(y))
             / (CAST(COUNT(*) AS DOUBLE) * SUM(x * x)
                - SUM(x) * SUM(x)) AS slope_raw,
             CAST(COUNT(*) AS BIGINT) AS n_fit,
             SUM(x) AS sx, SUM(y) AS sy
      FROM pts),
    ft2 AS (SELECT slope_raw,
                   (sy - slope_raw * sx)
                     / CAST(n_fit AS DOUBLE) AS intercept_raw
            FROM ft),
    tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS n1
            FROM tc)
    SELECT r, n_r, round(z, 6) AS z,
           round(slope_raw, 6) AS slope,
           round(intercept_raw, 6) AS intercept,
           round(CAST(r + 1 AS DOUBLE)
                 * power(CAST(r + 1 AS DOUBLE)
                         / CAST(r AS DOUBLE), slope_raw), 6)
             AS r_star_sgt,
           CAST(n1 * 1000000 // n_total AS BIGINT) AS p0_ppm
    FROM pts, ft2, tot ORDER BY r""")
def _q_text_sgt(spark, sf_dir):
    """Simple Good-Turing smoothing (Gale-Sampson): Z-transformed
    count-of-counts, log-log power-law fit, smoothed r* and the
    unseen mass p0 — the oracle replays the identical pinned
    expression order."""
    return (simple_good_turing(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("r"))
