"""Text analysis over the `documents` table — language-ID heuristic,
quality scoring, token counting, document fingerprinting (driver
mandate: training-data pipeline ops).  All JVM-side expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import TOKEN_SPLIT, tokens

# marker stopwords per language for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("und", "der", "die"),
    "fr": ("les", "des", "est"),
    "es": ("los", "las", "que"),
    "zh": (),  # CJK codepoint presence instead
}


def _count_token(text_tokens, word):
    return F.size(F.filter(text_tokens, lambda t: t == word))


def token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_measured, avg_token_len, punct_ratio,
    stopword_ratio) — quality-scoring features."""
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    # explicit classes, not \w\s: Java \s includes \x0B, RE2 (the
    # oracle engine) does not — same pin as dedup.TOKEN_SPLIT
    n_punct = n_chars - F.length(F.regexp_replace(
        "text", "[^a-zA-Z0-9_ \\t\\n\\r\\f\\x0B]", ""))
    n_stop = sum((_count_token(toks, w) for w in LANG_MARKERS["en"]),
                 F.lit(0))
    return documents.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars_measured"),
        F.round(n_chars.cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.round(n_punct.cast("double") / n_chars, 4).alias("punct_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"))


def quality_score(documents: DataFrame,
                  min_tokens: int = 10, max_avg_len: float = 12.0) -> DataFrame:
    """Composite keep/drop quality gate (Gopher-rule-style shape):
    (doc_id, quality, keep)."""
    s = token_stats(documents)
    quality = (F.when(F.col("n_tokens") >= min_tokens, 0.4).otherwise(0.0)
               + F.when(F.col("avg_token_len") <= max_avg_len, 0.3)
               .otherwise(0.0)
               + F.when(F.col("punct_ratio") <= 0.2, 0.3).otherwise(0.0))
    return s.select("doc_id", F.round(quality, 2).alias("quality"),
                    (quality >= 0.7).alias("keep"))


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-stopword language guess: (doc_id, lang, lang_guess,
    lang_match).  CJK presence wins; otherwise argmax of marker hits
    with deterministic tie-break on language code order."""
    toks = tokens(F.col("text"))
    scores = []
    for lang_code in ("de", "en", "es", "fr"):
        hits = sum((_count_token(toks, w) for w in LANG_MARKERS[lang_code]),
                   F.lit(0))
        scores.append((lang_code, hits))
    best = F.lit("en")
    best_score = F.lit(-1)
    for lang_code, hits in scores:  # later codes win only strictly
        better = hits > best_score
        best = F.when(better, lang_code).otherwise(best)
        best_score = F.when(better, hits).otherwise(best_score)
    has_cjk = F.col("text").rlike(r"[一-鿿]")
    guess = F.when(has_cjk, "zh").otherwise(best)
    return documents.select(
        "doc_id", "lang", guess.alias("lang_guess"),
        (F.col("lang") == guess).alias("lang_match"))


def fingerprint(documents: DataFrame, n: int = 4,
                keep: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint: the `keep` smallest
    md5-hashes of word n-gram shingles, concatenated.  (doc_id,
    fingerprint)."""
    toks = tokens(F.col("text"))
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))))
    return documents.select(
        "doc_id",
        F.concat_ws("", F.slice(F.array_sort(F.array_distinct(sh)),
                                1, keep)).alias("fingerprint"))


def bigram_lm_scores(documents: DataFrame) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-one
    smoothed bigram LM on the corpus itself, score every document by
    its mean bigram log-probability (low = disfluent/outlier text —
    the quality-bucket signal CCNet cuts on; the reference has no LM,
    this is the training-pipeline mandate).

    All counting is hash aggregation: C(w1,w2) and C(w1) are one
    groupBy each (map-side partial), |V| is a 1-row aggregate
    broadcast into the probability expression, and the per-doc score
    is a join of the doc-bigram stream against the bigram-count table
    keyed on the bigram — at 10^12 docs every shuffle is keyed on
    bigrams/doc ids, never on text.  P(w2|w1) = (C12+1) / (C1+|V|);
    score = mean ln P over the doc's bigrams, rounded to 6 digits
    (float-sum order differs across engines/partitionings).

    Returns (doc_id, n_bigrams, lm_score); docs with < 2 tokens have
    no bigrams and are excluded (nothing to score)."""
    toks = tokens(F.col("text"))
    bg = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_bg = (documents.select("doc_id", F.explode(bg).alias("b"))
              .select("doc_id", "b.w1", "b.w2"))
    c12 = doc_bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = doc_bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (documents.select(F.explode(tokens(F.col("text")))
                              .alias("w"))
             .agg(F.countDistinct("w").alias("v")))
    lm = (c12.join(c1, "w1")
          .crossJoin(F.broadcast(vocab))
          .select("w1", "w2",
                  F.log((F.col("c12") + 1)
                        / (F.col("c1") + F.col("v"))).alias("lp")))
    return (doc_bg.join(lm, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg("lp"), 6).alias("lm_score")))


CCNET_BUCKETS = ("head", "middle", "tail")


def ccnet_buckets(documents: DataFrame, lang_col: str = "lang",
                  n_buckets: int = 3) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, §4.3): score every document with the corpus-trained bigram
    LM (:func:`bigram_lm_scores`) and split each language into equal
    thirds by score — head = most fluent (highest mean bigram
    log-prob = lowest perplexity), tail = least.  CCNet trains on
    Wikipedia; here the LM is corpus-trained (the container has no
    KenLM), but the bucketing rule is the paper's.

    The tertile rule is RANK-based integer arithmetic, not percentile
    interpolation (doubles interpolate differently in the last ulp
    across engines): group docs by (lang, score), take the cumulative
    count of strictly-better-scored docs c_before, and assign bucket
    floor(c_before * n_buckets / n_lang) — the whole tie group lands
    in the bucket of its first member.

    Scale shape (10^12 docs): a per-language NTILE window would put
    an entire hot language (most of the web is English) in ONE task.
    Instead the window runs on the groupBy(lang, score) AGGREGATE —
    dimension-sized (distinct rounded scores per language), never on
    the doc stream — and docs get their bucket back via a join keyed
    on (lang, score).  Two keyed shuffles, no global sort, no hot
    single task.

    Returns (doc_id, lang, n_bigrams, lm_score, ppl_bucket); docs
    with < 2 tokens have no bigrams and are excluded (unscorable,
    same contract as bigram_lm_scores)."""
    scored = (documents.select("doc_id", F.col(lang_col).alias("lang"))
              .join(bigram_lm_scores(documents), "doc_id"))
    per_score = (scored.groupBy("lang", "lm_score")
                 .agg(F.count("*").alias("c")))
    w = (Window.partitionBy("lang")
         .orderBy(F.col("lm_score").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    cuts = (per_score
            .withColumn("c_before",
                        F.coalesce(F.sum("c").over(w), F.lit(0)))
            .withColumn("n_lang",
                        F.sum("c").over(Window.partitionBy("lang")))
            .select("lang", "lm_score",
                    F.expr(f"c_before * {int(n_buckets)} div n_lang")
                    .cast("int").alias("bucket_idx")))
    names = F.array(*[F.lit(b) for b in CCNET_BUCKETS[:n_buckets]])
    return (scored.join(cuts, ["lang", "lm_score"])
            .select("doc_id", "lang", "n_bigrams", "lm_score",
                    F.element_at(names, F.col("bucket_idx") + 1)
                    .alias("ppl_bucket")))


# the Gopher paper's stopword rule set (Rae et al. 2021, table A1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and",
                    "that", "have", "with")


def gopher_rules(documents: DataFrame,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                 min_alpha_ratio: float = 0.80,
                 min_stopwords: int = 2) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021 §A1.1) as
    pure column expressions — per-rule booleans plus the composite
    keep, so a pipeline can both filter and audit WHICH rule fired
    (the operational requirement the single-score gate lacks).

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_len, max_mean_len]; >= min_alpha_ratio of words contain
    an alphabetic character; >= min_stopwords DISTINCT stopwords from
    the paper's set appear.  Everything is one map-side pass — no
    shuffle, no Python."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0),
                          lambda acc, x: acc + F.length(x))
    mean_len = sum_len.cast("double") / n
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = alpha.cast("double") / n
    n_stop = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
    wc_ok = (n >= min_words) & (n <= max_words)
    ml_ok = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    al_ok = alpha_ratio >= min_alpha_ratio
    st_ok = n_stop >= min_stopwords
    return documents.select(
        "doc_id", n.cast("long").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
        wc_ok.alias("word_count_ok"), ml_ok.alias("mean_len_ok"),
        al_ok.alias("alpha_ok"), st_ok.alias("stopword_ok"),
        (wc_ok & ml_ok & al_ok & st_ok).alias("keep"))


def token_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of each document's unigram distribution (nats)
    — the gibberish/degenerate-text signal quality pipelines cut on
    alongside the LM score (a keyboard-mash page has near-maximal
    entropy, a repeated-token page near-zero).

    H = ln n - (1/n) * sum_w c_w ln c_w, computed from per-(doc,
    token) counts so the only shuffles key on (doc, token) then doc —
    text never shuffles, and map-side partial aggregation collapses
    the token stream before it moves.  Rounded to 6 digits
    (float-sum order).

    Returns (doc_id, n_tokens, n_distinct, entropy)."""
    tok = documents.select("doc_id",
                           F.explode(tokens(F.col("text"))).alias("w"))
    cnt = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return (cnt.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count("*").alias("n_distinct"),
                 F.sum(F.col("c") * F.log("c")).alias("_clc"))
            .select("doc_id", "n_tokens", "n_distinct",
                    F.round(F.log("n_tokens")
                            - F.col("_clc") / F.col("n_tokens"), 6)
                    .alias("entropy")))


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic keyword
    extractor (the reference's keyword/term aggregation surface,
    SURVEY.md T10, done statistically instead of by curated
    termsets).  score = tf * ln(N / df), ranked per document on the
    ROUNDED score (6 digits) with the term as tie-break so the
    ranking is engine-portable (raw doubles differ in the last ulp
    across ln implementations).

    Scale shape: per-(doc, token) counts collapse map-side; df is
    one vocab-keyed groupBy; the scoring join keys on the token
    (vocab-sized table, hash join — NOT broadcast: web vocab doesn't
    fit an executor); the top-k window partitions by doc, bounded by
    document length.  Text never shuffles.

    Returns (doc_id, term, rank, tfidf)."""
    from pyspark.sql import Window

    tok = documents.select("doc_id",
                           F.explode(tokens(F.col("text"))).alias("w"))
    cnt = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    df_w = cnt.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = documents.select(
        F.countDistinct("doc_id").alias("n_docs"))
    scored = (cnt.join(df_w, "w")
              .crossJoin(F.broadcast(n_docs))
              .select("doc_id", F.col("w").alias("term"),
                      F.round(F.col("c")
                              * F.log(F.col("n_docs") / F.col("df")),
                              6).alias("tfidf")))
    win = (Window.partitionBy("doc_id")
           .orderBy(F.col("tfidf").desc(), F.col("term")))
    return (scored.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("doc_id", "term", "rank", "tfidf"))


def readability(documents: DataFrame) -> DataFrame:
    """Flesch reading-ease score per document with the standard
    dependency-free syllable proxy (count of [aeiouy]+ vowel groups):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words).
    Sentences = non-empty [.!?]-terminated segments; documents with
    zero sentences or zero words are excluded (score undefined).

    Scale shape: pure map-side column expressions (two regexp counts
    + the shared tokenizer) — no shuffle, no UDF.

    Returns (doc_id, n_words, n_sentences, n_syllables, flesch)."""
    words = F.size(tokens(F.col("text")))
    sents = F.size(F.filter(
        F.split(F.col("text"), "[.!?]"),
        lambda s: F.trim(s) != ""))
    syll = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    return (documents
            .select("doc_id", words.alias("n_words"),
                    sents.alias("n_sentences"),
                    syll.alias("n_syllables"))
            .where((F.col("n_words") > 0) & (F.col("n_sentences") > 0))
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    F.round(206.835
                            - 1.015 * (F.col("n_words")
                                       / F.col("n_sentences"))
                            - 84.6 * (F.col("n_syllables")
                                      / F.col("n_words")), 6)
                    .alias("flesch")))


# explicit codepoint ranges shared verbatim with the oracle patterns
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("cjk", "一-鿿"),
    ("arabic", "؀-ۿ"),
)


def script_mix(documents: DataFrame) -> DataFrame:
    """Unicode-script composition per document — the script-ID signal
    multilingual pipelines cut on before language ID (a page whose
    declared lang disagrees with its dominant script is suspect, and
    mixed-script text drives per-script tokenizer routing).  Counts
    characters in four explicit codepoint ranges (Latin, Cyrillic,
    CJK unified, Arabic), plus the dominant script (ties broken in
    the declaration order above).

    Scale shape: four regexp counts + a CASE — entirely map-side.

    Returns (doc_id, n_latin, n_cyrillic, n_cjk, n_arabic,
    dominant_script)."""
    counts = {name: F.regexp_count(F.col("text"),
                                   F.lit("[%s]" % rng))
              for name, rng in SCRIPT_RANGES}
    m = F.greatest(*counts.values())
    dom = F.lit(None).cast("string")
    for name, _ in reversed(SCRIPT_RANGES):
        dom = F.when(counts[name] == m, F.lit(name)).otherwise(dom)
    return documents.select(
        "doc_id",
        *[counts[name].alias("n_" + name) for name, _ in SCRIPT_RANGES],
        dom.alias("dominant_script"))


def pmi_bigrams(documents: DataFrame, min_count: int = 3,
                top_n: int = 100) -> DataFrame:
    """Collocation mining: adjacent-token bigrams ranked by pointwise
    mutual information (Church & Hanks 1990), the standard first pass
    for phrase vocabularies (word2vec phrases, tokenizer merges).

    PMI = log(P(xy) / (P(x·)P(·y))) over the *bigram* event space:
    P(xy) = n_xy/N, P(x·) = bigrams starting with x / N, P(·y) =
    bigrams ending with y / N — so PMI = log(n_xy·N/(n_left·n_right))
    and, N being a per-corpus CONSTANT, the ranking is monotone in
    n_xy/(n_left·n_right) alone.  The score is emitted as
    ``pmi_scaled = n_xy * 10^12 div (n_left * n_right)`` — *integer*
    arithmetic end to end (DECIMAL(38,0) intermediates, so a 10^7
    count cannot overflow int64 mid-product), bit-identical across
    engines (float log() is not; same engine-portability pin as
    source_accuracy's ppm and the mixture schedule's integer keys).
    Recover true PMI as log(pmi_scaled · N / 10^12) if needed.

    Shape: token split + posexplode are map-side; then one groupBy on
    the bigram, two on its margins (all partial-aggregated), and two
    joins of the margins back onto the bigram counts.  The margins
    are vocabulary-sized — often broadcastable, but a 100 TB webtext
    vocabulary can run to 10^8 terms, so the strategy is left to AQE
    (broadcast when small, shuffle-hash otherwise) instead of a
    forced hint; only the 1-row grand total is hinted."""
    from .dedup import tokens
    toks = documents.select(tokens(F.col("text")).alias("t"))
    bi = (toks
          .where(F.size("t") >= 2)
          .select(F.posexplode(F.slice("t", 1, F.size("t") - 1))
                  .alias("i", "w1"),
                  F.col("t"))
          .select("w1", F.expr("t[i + 1]").alias("w2"))
          .where((F.length("w1") > 0) & (F.length("w2") > 0)))
    counts = (bi.groupBy("w1", "w2")
              .agg(F.count(F.lit(1)).cast("long").alias("n_xy")))
    left = counts.groupBy("w1").agg(
        F.sum("n_xy").cast("long").alias("n_left"))
    right = counts.groupBy("w2").agg(
        F.sum("n_xy").cast("long").alias("n_right"))
    return (counts
            .where(F.col("n_xy") >= min_count)
            .join(left, "w1")
            .join(right, "w2")
            .withColumn("pmi_scaled",
                        F.expr("CAST(n_xy AS DECIMAL(38,0)) "
                               "* 1000000000000 "
                               "div (CAST(n_left AS DECIMAL(38,0)) "
                               "* CAST(n_right AS DECIMAL(38,0)))"))
            .select("w1", "w2", "n_xy", "n_left", "n_right",
                    "pmi_scaled")
            .orderBy(F.col("pmi_scaled").desc(), "w1", "w2")
            .limit(top_n))


SENTENCE_SPLIT = (r"(?<!\bDr\.)(?<!\bMr\.)(?<!\bMs\.)(?<![A-Z]\.)"
                  r"(?<=[.!?]) (?=[A-Z])")


def split_sentences(documents: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """Sentence segmentation — the unit every mention-context,
    Hearst, and quote extractor really wants to run over.  Boundary =
    sentence punctuation + space + capital, with fixed-width negative
    lookbehinds guarding common abbreviations (Dr./Mr./Ms.) and
    single-initial names ("A. Turing") — the classic high-precision
    rule set; a learned segmenter would slot in behind the same
    explode.

    Pure JVM: one regex split + posexplode, no Python, no shuffle;
    text is dropped at the explode.  Returns (url, sent_idx,
    sentence)."""
    return (documents
            .select(F.col("url"),
                    F.posexplode(F.split(
                        F.col(text_col).cast("string"),
                        SENTENCE_SPLIT))
                    .alias("sent_idx", "sentence")))


def tokenizer_fertility(documents: DataFrame,
                        lang_col: str = "lang") -> DataFrame:
    """Per-language tokenizer fertility audit: how many tokens, chars
    and bytes a language contributes per unit of text — the numbers
    that size a tokenizer's vocabulary allocation and a sampling
    mix's per-language token budget (fertility = tokens a tokenizer
    spends per character; languages the tokenizer fragments cost
    disproportionate sequence length — the standard multilingual-BPE
    audit).

    Uses the pinned whitespace tokenizer (``dedup.TOKEN_SPLIT`` — the
    engine-portable class) so the oracle replays it exactly.  Returns
    one row per language:

    (lang, n_docs, total_tokens, total_chars, total_bytes,
    tokens_per_1k_chars, bytes_per_token) — the two ratios are single
    exact IEEE divisions of long sums.

    Scale shape: map-side token/char/byte counts (expressions only)
    into ONE groupBy(lang) with |langs| groups — partials do all the
    work; text never shuffles.
    """
    from .dedup import tokens
    t = documents.select(
        F.col(lang_col).alias("lang"),
        F.size(tokens(F.col("text"))).cast("long").alias("toks"),
        F.length("text").cast("long").alias("chars"),
        F.octet_length("text").cast("long").alias("bytes"))
    agg = t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.sum("bytes").cast("long").alias("total_bytes"))
    return agg.select(
        "lang", "n_docs", "total_tokens", "total_chars", "total_bytes",
        (F.col("total_tokens").cast("double") * 1000.0
         / F.col("total_chars")).alias("tokens_per_1k_chars"),
        (F.col("total_bytes").cast("double")
         / F.col("total_tokens")).alias("bytes_per_token"))


# ------------------------------------------------------------- RAKE

RAKE_STOPWORDS = ("a", "an", "and", "are", "as", "at", "be", "but",
                  "by", "for", "if", "in", "is", "it", "of", "on",
                  "or", "the", "to", "was", "with")


def rake_keyphrases(documents: DataFrame, text_col: str = "text",
                    id_col: str = "url", top_k: int = 3,
                    stopwords: tuple = RAKE_STOPWORDS) -> DataFrame:
    """RAKE-lite keyphrase extraction (Rose et al. 2010 reduced to a
    pinned deterministic spec): candidate phrases are maximal runs of
    non-stopword tokens (tokens = ``[a-z0-9]+`` over the lowercased
    text; stopwords are the ONLY delimiters -- punctuation boundaries
    are deliberately out of the pinned spec), scored by the classic
    degree/frequency ratio summed over the phrase's word occurrences.

    Determinism discipline: the word score is FIXED-POINT --
    ``deg(w) * 1_000_000 div freq(w)`` on longs -- so phrase scores
    are exact integer sums, order-free, and an SQL replay matches
    bit-for-bit (a float deg/freq would make the phrase sum depend on
    addition order).  Top ``top_k`` phrases per document by
    (score DESC, phrase ASC); duplicate phrase texts in one document
    collapse to a single row with ``n_occurrences``.

    Scale shape: every stage is keyed by document (token windows,
    phrase grouping) or by (document, word) -- no corpus-wide
    hotspot; the per-doc window partitions are document-sized.

    Returns (id, phrase, n_words, n_occurrences, score_micro, rank).
    """
    did = F.col(id_col)
    toks = documents.select(
        did, F.posexplode(F.expr(
            "regexp_extract_all(lower(%s), r'[a-z0-9]+', 0)"
            % text_col)).alias("pos", "w"))
    stop = F.col("w").isin(*stopwords)
    w_run = (Window.partitionBy(id_col).orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
    words = (toks.withColumn("grp", F.sum(stop.cast("long")).over(w_run))
             .where(~stop))
    phrases = words.groupBy(id_col, "grp").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda s: s["w"]), " ").alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_words"))
    wstats = (words.join(phrases.select(id_col, "grp", "n_words"),
                         [id_col, "grp"])
              .groupBy(id_col, "w")
              .agg(F.sum("n_words").cast("long").alias("deg"),
                   F.count(F.lit(1)).cast("long").alias("freq")))
    wscore = wstats.select(
        did, "w", F.expr("deg * 1000000 div freq").alias("wscore"))
    pscore = (words.join(wscore, [id_col, "w"])
              .groupBy(id_col, "grp")
              .agg(F.sum("wscore").cast("long").alias("score_micro")))
    cand = (pscore.join(phrases, [id_col, "grp"])
            .groupBy(id_col, "phrase")
            .agg(F.max("n_words").alias("n_words"),
                 F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                 F.max("score_micro").alias("score_micro")))
    w_rank = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), "phrase")
    return (cand.withColumn("rank",
                            F.row_number().over(w_rank).cast("long"))
            .where(F.col("rank") <= int(top_k)))


def _ols_fit(pts: DataFrame, group_cols: list):
    """Grouped closed-form least squares of y on x over (x, y) rows:
    slope/intercept/r2 from the five moment sums — one aggregate, no
    iteration.  Outputs are floor-scaled micro longs (the
    events.theil_sen_trend convention): round(x, 6) is not
    engine-exact, since Spark HALF_UPs a tie and keeps 0.0 where
    DuckDB gives -0.0."""
    agg = (pts.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("n_fit"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy")))
    n = F.col("n_fit").cast("double")
    vxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = vxy / vxx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (vxy * vxy) / (vxx * vyy)
    return agg.select(
        *group_cols, "n_fit",
        F.floor(slope * 1000000).cast("long").alias("slope_micro"),
        F.floor(intercept * 1000000).cast("long").alias("intercept_micro"),
        F.floor(r2 * 1000000).cast("long").alias("r2_micro"))


def zipf_fit(documents: DataFrame, top_n: int = 100,
             min_count: int = 2) -> DataFrame:
    """Per-language Zipf's-law fit: token frequencies ranked within
    each language (ties to the lexicographically first token), then
    OLS of ln(freq) on ln(rank) over the top ``top_n`` ranks with
    count >= min_count.  A well-mixed natural corpus fits slope
    ~ -1; a flat slope is a template/boilerplate signal and a cliff
    is a tiny-vocabulary signal — a standard corpus-health gauge in
    web-text pipelines.

    Scale shape: ONE token-count groupBy (map-side combined); the
    rank window runs on the (lang, token, count) aggregate, which is
    vocabulary-sized, not corpus-sized, and is cut to top_n before
    the logs; the fit is a closed-form moment aggregate
    (:func:`_ols_fit`), no iteration.

    Returns (lang, n_fit, slope_micro, intercept_micro, r2_micro,
    top_token)."""
    toks = (documents
            .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
            .where(F.length("tok") > 0))
    counts = (toks.groupBy("lang", "tok")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tok")
    ranked = (counts.withColumn("rank", F.row_number().over(w))
              .where((F.col("rank") <= int(top_n))
                     & (F.col("cnt") >= int(min_count))))
    pts = ranked.select(
        "lang", "tok", "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"))
    fit = _ols_fit(pts, ["lang"])
    top = (ranked.where(F.col("rank") == 1)
           .select("lang", F.col("tok").alias("top_token")))
    return fit.join(top, "lang")


def heaps_fit(documents: DataFrame) -> DataFrame:
    """Per-source Heaps'-law fit V(n) = K * n^beta: for each source,
    walk the corpus in doc_id order, record (cumulative tokens seen,
    cumulative distinct vocabulary) after every document, and OLS-fit
    ln V on ln n.  beta ~ 0.5 for natural text; beta near 1 means the
    vocabulary never saturates (OCR noise / random ids), beta near 0
    means template text — the complement of the Zipf gauge.

    The vocabulary prefix count needs no per-token ordering: a
    token's first appearance is min(doc_id) over its occurrences, so
    new_types(d) = count of tokens whose first doc is d, and both
    cumulative series are windows over the PER-DOCUMENT aggregate
    (corpus-sized work is the one token groupBy; the windows run on
    #docs rows partitioned by source).

    Returns (source, n_docs, n_fit, slope_micro, intercept_micro,
    r2_micro) where slope is the Heaps exponent beta and exp(intercept)
    is K."""
    toks = (documents
            .select("source", "doc_id",
                    F.explode(tokens(F.col("text"))).alias("tok"))
            .where(F.length("tok") > 0))
    per_doc = (toks.groupBy("source", "doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_toks")))
    first = (toks.groupBy("source", "tok")
             .agg(F.min("doc_id").alias("first_doc")))
    new_types = (first.groupBy("source", F.col("first_doc")
                               .alias("doc_id"))
                 .agg(F.count(F.lit(1)).cast("long").alias("n_new")))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    series = (per_doc.join(new_types, ["source", "doc_id"], "left")
              .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
              .select("source", "doc_id",
                      F.sum("n_toks").over(w).alias("cum_toks"),
                      F.sum("n_new").over(w).alias("cum_types"))
              .where(F.col("cum_toks") > 0))
    pts = series.select(
        "source",
        F.log(F.col("cum_toks").cast("double")).alias("x"),
        F.log(F.col("cum_types").cast("double")).alias("y"))
    n_docs = (per_doc.groupBy("source")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    return _ols_fit(pts, ["source"]).join(n_docs, "source")


def textrank_keywords(documents: DataFrame, window: int = 2,
                      iters: int = 3, damping: float = 0.85,
                      top_k: int = 10, round_to: int = 6) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) per
    language: build the word co-occurrence graph (tokens within
    ``window`` positions of each other, edge weight = co-occurrence
    count across the corpus), then run ``iters`` synchronous rounds
    of the WEIGHTED PageRank recurrence WS(i) = (1-d) + d *
    sum_j (w_ji / outW_j) * WS(j) from WS = 1, and keep each
    language's top_k tokens by (score desc, token) — the graph-based
    complement to the frequency-based RAKE/TF-IDF extractors (scores
    flow through co-occurrence structure, so a mid-frequency token
    wired to hubs outranks a frequent but isolated one).

    Scale shape: the co-occurrence build is `window` self-equi-joins
    of the (doc, pos, token) stream on (doc, pos+k) — position-local,
    no cross-document pairs — collapsed immediately by ONE groupBy
    into the vocabulary-sized weighted edge list; every iteration is
    one join + one groupBy on that dimension-sized list (never
    corpus-sized).  Scores are re-rounded to 9 decimals each round so
    the replay folds identical doubles regardless of engine
    aggregation order.

    Returns (lang, token, rank, score)."""
    toks = (documents
            .select("lang",
                    F.col("doc_id"),
                    F.posexplode(tokens(F.col("text")))
                    .alias("pos", "tok"))
            .where(F.length("tok") > 0))
    sides = []
    for k in range(1, window + 1):
        a = toks.select("lang", "doc_id",
                        (F.col("pos") + k).alias("jpos"),
                        F.col("tok").alias("t1"))
        b = toks.select("lang", "doc_id", F.col("pos").alias("jpos"),
                        F.col("tok").alias("t2"))
        sides.append(a.join(b, ["lang", "doc_id", "jpos"])
                     .where(F.col("t1") != F.col("t2"))
                     .select("lang", "t1", "t2"))
    pairs = sides[0]
    for s in sides[1:]:
        pairs = pairs.unionByName(s)
    und = (pairs.select("lang",
                        F.least("t1", "t2").alias("u"),
                        F.greatest("t1", "t2").alias("v"))
           .groupBy("lang", "u", "v")
           .agg(F.count(F.lit(1)).cast("long").alias("w")))
    # symmetric directed view + out-weights, materialized once: the
    # iteration re-reads both every round
    sym = (und.select("lang", F.col("u").alias("src"),
                      F.col("v").alias("dst"), "w")
           .unionByName(und.select("lang", F.col("v").alias("src"),
                                   F.col("u").alias("dst"), "w"))
           .localCheckpoint())
    outw = (sym.groupBy("lang", "src")
            .agg(F.sum("w").cast("long").alias("ow")))
    contrib_edges = (sym.join(outw, ["lang", "src"])
                     .select("lang", "src", "dst",
                             (F.col("w").cast("double")
                              / F.col("ow").cast("double"))
                             .alias("p"))
                     .localCheckpoint())
    scores = (sym.select("lang", F.col("src").alias("tok")).distinct()
              .withColumn("s", F.lit(1.0)))
    for _ in range(iters):
        inc = (contrib_edges
               .join(scores.select("lang",
                                   F.col("tok").alias("src"),
                                   "s"), ["lang", "src"])
               .groupBy("lang", F.col("dst").alias("tok"))
               .agg(F.round(F.sum(F.col("p") * F.col("s")), 9)
                    .alias("inc")))
        scores = (scores.drop("s").join(inc, ["lang", "tok"], "left")
                  .select("lang", "tok",
                          F.round(F.lit(1.0 - damping)
                                  + F.lit(damping)
                                  * F.coalesce("inc", F.lit(0.0)), 9)
                          .alias("s"))
                  .localCheckpoint())
    w_rank = Window.partitionBy("lang").orderBy(F.col("s").desc(),
                                                "tok")
    return (scores.withColumn("rank",
                              F.row_number().over(w_rank).cast("long"))
            .where(F.col("rank") <= int(top_k))
            .select("lang", F.col("tok").alias("token"), "rank",
                    F.round("s", round_to).alias("score")))


def js_divergence(documents: DataFrame, group_col: str,
                  group_a: str, group_b: str,
                  text_col: str = "text",
                  round_to: int = 6) -> DataFrame:
    """Jensen-Shannon divergence (base 2) between the token unigram
    distributions of two corpus slices: JSD(P||Q) = H(M) - (H(P) +
    H(Q))/2 with M = (P+Q)/2, computed termwise as sum_t [p/2 *
    lg(p/m) + q/2 * lg(q/m)] — bounded in [0, 1], symmetric, and
    DEFINED when a token appears on only one side (the zero side's
    term is 0), which is exactly why corpus-drift monitoring uses JSD
    where KL would blow up.  Complements the PSI gate (binned scores)
    and the KS gate (numeric columns) with a vocabulary-distribution
    gate.

    Scale shape: two token-count groupBys collapsed to ONE by
    tagging, a full-outer-shaped per-token frame via groupBy on the
    token (vocabulary-sized), exact integer counts until the one
    log-expression per token, one final scalar aggregate rounded.

    Returns ONE row (n_a, n_b, vocab_a, vocab_b, vocab_shared,
    jsd)."""
    from .dedup import tokens as _tokens
    g = F.col(group_col)
    tagged = (documents.where(g.isin([group_a, group_b]))
              .select(F.when(g == group_a, 1).otherwise(0)
                      .alias("in_a"),
                      F.explode(_tokens(F.col(text_col))).alias("tok"))
              .where(F.length("tok") > 0)
              .groupBy("tok")
              .agg(F.sum("in_a").cast("long").alias("c_a"),
                   F.sum(F.lit(1) - F.col("in_a")).cast("long")
                   .alias("c_b")))
    tot = tagged.agg(F.sum("c_a").alias("n_a"),
                     F.sum("c_b").alias("n_b"))
    j = tagged.crossJoin(F.broadcast(tot))
    p = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    q = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    m = (p + q) / F.lit(2.0)
    lg2 = F.log(F.lit(2.0))
    term = (F.when(F.col("c_a") > 0,
                   p / 2 * F.log(p / m) / lg2).otherwise(F.lit(0.0))
            + F.when(F.col("c_b") > 0,
                     q / 2 * F.log(q / m) / lg2).otherwise(F.lit(0.0)))
    return (j.agg(F.max("n_a").alias("n_a"),
                  F.max("n_b").alias("n_b"),
                  F.sum((F.col("c_a") > 0).cast("long"))
                  .cast("long").alias("vocab_a"),
                  F.sum((F.col("c_b") > 0).cast("long"))
                  .cast("long").alias("vocab_b"),
                  F.sum(((F.col("c_a") > 0) & (F.col("c_b") > 0))
                        .cast("long")).cast("long")
                  .alias("vocab_shared"),
                  F.round(F.sum(term), round_to).alias("jsd")))


def yules_k(documents: DataFrame, round_to: int = 6) -> DataFrame:
    """Yule's characteristic K per language — the repeat-rate
    vocabulary-richness constant K = 10^4 * (S2 - S1) / S1^2 with
    S1 = total tokens and S2 = sum of squared token frequencies
    (Yule 1944); unlike raw type/token ratios K is length-invariant,
    which is what makes it comparable across crawl slices.  Low K =
    rich vocabulary (natural prose); high K = repetitive/template
    text.  Completes the power-law gauge set (Zipf slope, Heaps
    exponent, entropy).

    Scale shape: one token-count groupBy (map-side combined), one
    per-language aggregate over the vocabulary-sized counts — S1/S2
    exact longs, one double expression at the end.

    Returns (lang, n_tokens, n_types, hapax, yules_k) — ``hapax``
    (count of once-occurring tokens) rides along free."""
    from .dedup import tokens as _tokens
    counts = (documents
              .select("lang",
                      F.explode(_tokens(F.col("text"))).alias("tok"))
              .where(F.length("tok") > 0)
              .groupBy("lang", "tok")
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    agg = (counts.groupBy("lang")
           .agg(F.sum("c").cast("long").alias("n_tokens"),
                F.count(F.lit(1)).cast("long").alias("n_types"),
                F.sum((F.col("c") == 1).cast("long")).cast("long")
                .alias("hapax"),
                F.sum(F.col("c") * F.col("c")).alias("s2")))
    s1 = F.col("n_tokens").cast("double")
    k = (F.lit(10000.0) * (F.col("s2").cast("double") - s1)
         / (s1 * s1))
    return agg.select("lang", "n_tokens", "n_types", "hapax",
                      F.round(k, round_to).alias("yules_k"))


def llr_collocations(documents: DataFrame, min_count: int = 3,
                     top_n: int = 100) -> DataFrame:
    """Collocation mining by Dunning's log-likelihood ratio (Dunning
    1993) — the significance-test counterpart to :func:`pmi_bigrams`
    (PMI over-ranks rare pairs; LLR weights evidence mass, which is
    why phrase induction pipelines gate on it).

    Over the adjacent-bigram event space (same extraction as
    pmi_bigrams: pinned tokenizer, posexplode, one bigram groupBy):
    with k11 = n(w1 w2), margins n_left = n(w1 ·), n_right = n(· w2)
    and N total bigrams,

        llr = 2·( xlx(k11)+xlx(k12)+xlx(k21)+xlx(k22)
                 −xlx(n_left)−xlx(N−n_left)
                 −xlx(n_right)−xlx(N−n_right)+xlx(N) )

    where xlx(x) = x·ln(x) with xlx(0) = 0.  Every k is an exact
    long; llr is a per-row expression over those longs (no float
    aggregation), rounded to 6 so both engines rank identical
    doubles; the top-n cut breaks ties on (w1, w2).

    Shape: identical to pmi_bigrams — map-side token split, one
    bigram groupBy, two vocabulary-sized margin groupBys joined back
    (strategy left to AQE), a 1-row broadcast total, one final
    ordered-window cut on the scored (vocabulary²-bounded, in
    practice bigram-type-sized) frame."""
    from .dedup import tokens
    toks = documents.select(tokens(F.col("text")).alias("t"))
    bi = (toks
          .where(F.size("t") >= 2)
          .select(F.posexplode(F.slice("t", 1, F.size("t") - 1))
                  .alias("i", "w1"),
                  F.col("t"))
          .select("w1", F.expr("t[i + 1]").alias("w2"))
          .where((F.length("w1") > 0) & (F.length("w2") > 0)))
    counts = (bi.groupBy("w1", "w2")
              .agg(F.count(F.lit(1)).cast("long").alias("n_xy")))
    left = counts.groupBy("w1").agg(
        F.sum("n_xy").cast("long").alias("n_left"))
    right = counts.groupBy("w2").agg(
        F.sum("n_xy").cast("long").alias("n_right"))
    total = counts.agg(F.sum("n_xy").cast("long").alias("n_tot"))

    def xlx(c):
        return F.when(c <= 0, F.lit(0.0)) \
            .otherwise(c.cast("double") * F.log(c.cast("double")))

    k11 = F.col("n_xy")
    k12 = F.col("n_left") - k11
    k21 = F.col("n_right") - k11
    k22 = F.col("n_tot") - F.col("n_left") - F.col("n_right") + k11
    llr = F.round(
        2.0 * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
               - xlx(F.col("n_left"))
               - xlx(F.col("n_tot") - F.col("n_left"))
               - xlx(F.col("n_right"))
               - xlx(F.col("n_tot") - F.col("n_right"))
               + xlx(F.col("n_tot"))), 6)
    scored = (counts.where(F.col("n_xy") >= min_count)
              .join(left, "w1").join(right, "w2")
              .crossJoin(F.broadcast(total))
              .select("w1", "w2", "n_xy", "n_left", "n_right",
                      llr.alias("llr")))
    w = Window.orderBy(F.col("llr").desc(), "w1", "w2")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .select("w1", "w2", "n_xy", "n_left", "n_right", "llr",
                    F.col("rank").cast("long").alias("rank")))


def ngram_novelty(docs: DataFrame, n: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty against everything that came
    before it in corpus order: the share of a document's distinct
    token n-grams whose FIRST corpus occurrence is this document.
    This is the marginal-information curation signal for training
    data at scale — mirror-heavy crawls score near 0 even when no
    single document is a near-duplicate of any other (boilerplate
    recombination), which is exactly the case MinHash pair-finding
    misses; Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") motivates the same n-gram-level view.

    Corpus order = ascending ``id_col`` (ingest order).  Distributed
    shape: explode to distinct (doc, ngram), ONE groupBy on the
    ngram key for the global first-occurrence (min doc id — an
    associative aggregate, map-side combined), one join back on the
    same ngram key (co-partitioned with the groupBy, so AQE fuses
    the exchange), then a per-doc aggregate.  Nothing is ever
    ordered globally; at 10^12 documents this is the same two-pass
    shape as the MinHash pipeline.

    All-integer output (permille via integer div) — engine-portable
    hash-exact.  Documents with fewer than ``n`` tokens yield zero
    ngrams and are dropped (no 0/0 row).

    Returns (doc_id, n_ngrams, n_novel, novelty_permille).
    """
    from .dedup import tokens
    t = tokens(F.col(text_col))
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, (i + k + 1).cast("int"))
                       for k in range(n)]))
    ).otherwise(F.array().cast("array<string>"))
    dg = (docs.select(F.col(id_col).alias("doc_id"),
                      F.explode(grams).alias("ngram"))
          .where(F.length("ngram") > 0).distinct())
    first = dg.groupBy("ngram").agg(F.min("doc_id").alias("_first"))
    return (dg.join(first, "ngram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.sum(F.when(F.col("_first") == F.col("doc_id"), 1)
                       .otherwise(0)).cast("long").alias("n_novel"))
            .select("doc_id", "n_ngrams", "n_novel",
                    F.expr("1000 * n_novel div n_ngrams")
                    .cast("long").alias("novelty_permille")))


def code_detection(documents: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Code-vs-prose detection from lexical surface signals — the
    corpus-partitioning step LLM pipelines run before routing
    documents to code-specific cleaning/dedup (The Stack /
    StarCoder corpora are built behind exactly this gate; prose
    pipelines mis-handle code and vice versa).

    Signals, all exact integers from pure expressions (no UDF):

    * ``n_braces``     — '{' + '}' occurrences;
    * ``n_semicolons`` — ';' occurrences;
    * ``n_indented``   — lines starting with 4+ spaces or a tab;
    * ``n_assign``     — ' = ' occurrences (assignment-ish);
    * ``n_lines``      — physical lines.

    ``code_score_permille = 1000 * (n_braces + n_semicolons +
    n_indented) div greatest(n_lines, 1)`` and ``is_code`` flags
    score >= 500 — thresholds in the spirit of the classifier-free
    heuristics in corpus pipelines' code filters, declared rather
    than learned so the gate is reproducible.

    Occurrence counts use the split-length identity
    (``size(split(s, pat)) - 1``) — identical semantics in every
    engine, no regex-count builtin needed.

    Returns (doc_id, n_braces, n_semicolons, n_indented, n_assign,
    n_lines, code_score_permille, is_code).
    """
    t = F.col(text_col)
    cnt = lambda pat: (F.size(F.split(t, pat)) - 1).cast("long")  # noqa: E731
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        (cnt(r"\{") + cnt(r"\}")).cast("long").alias("n_braces"),
        cnt(";").alias("n_semicolons"),
        F.size(F.filter(
            F.split(t, "\n"),
            lambda ln: ln.rlike(r"^(    |\t)"))).cast("long")
        .alias("n_indented"),
        cnt(" = ").alias("n_assign"),
        F.size(F.split(t, "\n")).cast("long").alias("n_lines"))
    score = F.expr("1000 * (n_braces + n_semicolons + n_indented) "
                   "div greatest(n_lines, 1)").cast("long")
    return base.select(
        "doc_id", "n_braces", "n_semicolons", "n_indented",
        "n_assign", "n_lines",
        score.alias("code_score_permille"),
        (score >= 500).cast("long").alias("is_code"))


def kwic(documents: DataFrame, terms: list, window: int = 3,
         doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keyword-in-context concordance: every occurrence of each probe
    term with its +-``window``-token context — the corpus-linguistics
    staple (and the human-audit surface for filter rules: "show me
    how this term is actually used").

    Map-only: tokenize once in the scan, posexplode to 1-based
    positions, filter to the broadcast-literal term set, slice the
    token array for both contexts row-locally.  No shuffle at all —
    the output is written partition-parallel; at 10^12 docs this is
    a pure scan job.  Token positions are 1-based (both engines
    slice 1-based, so the oracle mirrors byte-for-byte)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT)
    exploded = (documents
                .select(F.col(doc_col).alias("doc_id"),
                        toks.alias("toks"))
                .select("doc_id", "toks", F.size("toks").alias("n"),
                        F.posexplode("toks").alias("pos0", "term"))
                .where(F.col("term").isin(terms)))
    p = F.col("pos0") + 1
    left = F.array_join(
        F.slice("toks", F.greatest(F.lit(1), p - window),
                p - F.greatest(F.lit(1), p - window)), " ")
    right = F.array_join(
        F.slice("toks", p + 1,
                F.least(F.lit(window), F.col("n") - p)), " ")
    return exploded.select(
        "doc_id", "term", p.cast("int").alias("pos"),
        left.alias("left_ctx"), right.alias("right_ctx"))


def s_stemmer(documents: DataFrame, doc_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Harman's S-stemmer (Harman 1991, "How effective is
    suffixing?"): the three ordered plural-stripping rules —
    ies->y (unless -eies/-aies), es->e (unless -aes/-ees/-oes),
    drop final s (unless -us/-ss) — applied to the corpus
    vocabulary.  The conservative stemmer IR evaluations keep
    reaching for when Porter over-stems; entirely CASE/substring
    algebra, so it runs inside whole-stage codegen and mirrors
    engine-exactly.

    Shape: tokenize in the scan map, ONE token groupBy builds the
    vocabulary with counts (map-side combined), the rule CASE is a
    row-local expression on the vocab-sized table.  Returns
    (token, stem, rule, n_occurrences)."""
    tok = F.col("token")
    ln = F.length(tok)
    cut = lambda n: F.substring(tok, 1, ln - n)  # noqa: E731
    ies = (tok.endswith("ies") & ~tok.endswith("eies")
           & ~tok.endswith("aies"))
    es = (tok.endswith("es") & ~tok.endswith("aes")
          & ~tok.endswith("ees") & ~tok.endswith("oes"))
    s = (tok.endswith("s") & ~tok.endswith("us")
         & ~tok.endswith("ss"))
    stem = (F.when(ies, F.concat(cut(3), F.lit("y")))
            .when(es, cut(1))
            .when(s, cut(1))
            .otherwise(tok))
    rule = (F.when(ies, "ies").when(es, "es").when(s, "s")
            .otherwise("none"))
    vocab = (documents
             .select(F.explode(tokens(F.col(text_col))).alias("token"))
             .groupBy("token")
             .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_occurrences")))
    return vocab.select("token", stem.alias("stem"),
                        rule.alias("rule"), "n_occurrences")


def burstiness(documents: DataFrame, min_total: int = 20,
               doc_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Term burstiness (Church & Gale 1995): the variance-to-mean
    ratio of per-document counts over ALL N docs — VMR = 1 for a
    Poisson (content-free) term, >> 1 for bursty content terms; the
    statistic topical-term detection and stopword induction key on.

    Exact integer form: with t = total occurrences and
    s = sum of squared per-doc counts, var/mean over N docs equals
    (N*s - t^2) / (N*t), non-negative by Cauchy-Schwarz — emitted
    milli-scaled with integer div, engine-exact.

    Shape: one (doc, term) groupBy then one term groupBy (both
    map-side combined, both keyed shuffles); N is a 1-row broadcast.
    Returns (term, n_docs, total, vmr_milli) for terms with
    total >= min_total."""
    pairs = (documents
             .select(F.col(doc_col).alias("doc"),
                     F.explode(tokens(F.col(text_col))).alias("term"))
             .groupBy("doc", "term")
             .agg(F.count(F.lit(1)).cast("long").alias("c")))
    per_term = (pairs.groupBy("term")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("c").cast("long").alias("total"),
                     F.sum(F.col("c") * F.col("c")).cast("long")
                     .alias("sum_sq"))
                .where(F.col("total") >= min_total))
    n_row = documents.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # DECIMAL(38) headroom: (n*sum_sq - total^2) * 1000 overflows
    # int64 near n*sum_sq ~ 9e15 (corpus-frequent terms at large N),
    # silently in Spark — widen before the milli-scale so the div
    # stays exact to ~10^35 (matches DuckDB's HUGEINT arithmetic)
    return (per_term.crossJoin(F.broadcast(n_row))
            .select("term", "n_docs", "total",
                    F.expr("((cast(n as decimal(38,0)) * sum_sq"
                           " - cast(total as decimal(38,0)) * total)"
                           " * 1000) div"
                           " (cast(n as decimal(38,0)) * total)")
                    .cast("long").alias("vmr_milli")))


def texttiling(documents: DataFrame, window: int = 20,
               depth_threshold_milli: int = 300,
               doc_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """TextTiling topic segmentation (Hearst, CL 1997): split each
    document into fixed token windows, score every gap by the
    lexical cosine between its adjacent windows, and cut where the
    similarity valley is deep — the subtopic chunker long documents
    need before chunk-level embedding/packing.

    Integer restatement: per-gap similarity = 1000 * dot div
    isqrt(|a|^2) div isqrt(|b|^2) with floor(sqrt(double)) norms
    (the declared Neyman-allocation convention; order-preserving);
    depth(g) = (sim(g-1) - sim(g)) + (sim(g+1) - sim(g)) over the
    doc's gap sequence (missing neighbors contribute 0), boundary
    when sim is a strict local minimum and depth exceeds the
    threshold.

    Shape: tokenize/posexplode map-side, one (doc, window, term)
    count aggregate, adjacent-window dot = ONE self-join keyed on
    (doc, term) between window w and w+1 (co-partitioned), norms
    ride the same aggregate, the valley test is two lag/lead
    windows per doc.  Returns (doc_id, gap_idx, sim_milli, depth,
    is_boundary)."""
    from pyspark.sql import Window
    toks = (documents
            .select(F.col(doc_col).alias("doc"),
                    F.posexplode(tokens(F.col(text_col)))
                    .alias("pos", "term"))
            .select("doc", F.expr("pos div %d" % window).alias("w"),
                    "term"))
    counts = (toks.groupBy("doc", "w", "term")
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    a = counts.select("doc", F.col("w").alias("g"),
                      "term", F.col("c").alias("ca"))
    b = counts.select("doc", (F.col("w") - 1).alias("g"),
                      "term", F.col("c").alias("cb"))
    dots = (a.join(b, ["doc", "g", "term"])
            .groupBy("doc", "g")
            .agg(F.sum(F.col("ca") * F.col("cb")).cast("long")
                 .alias("dot")))
    norms = (counts.groupBy("doc", "w")
             .agg(F.sum(F.col("c") * F.col("c")).cast("long")
                  .alias("nsq")))
    # gaps come from the WINDOW-PAIR list, with the dot LEFT-joined:
    # adjacent windows sharing no term are the deepest valleys (a
    # complete topic shift) and must appear as sim 0, not vanish
    gaps = (norms.select("doc", F.col("w").alias("g"),
                         F.col("nsq").alias("na"))
            .join(norms.select("doc", (F.col("w") - 1).alias("g"),
                               F.col("nsq").alias("nb")),
                  ["doc", "g"])
            .join(dots, ["doc", "g"], "left")
            .select("doc", "g",
                    F.expr("coalesce(dot, 0) * 1000"
                           " div floor(sqrt(cast(na as"
                           " double))) div floor(sqrt(cast(nb as"
                           " double)))").cast("long")
                    .alias("sim_milli")))
    wd = Window.partitionBy("doc").orderBy("g")
    prev, nxt = F.lag("sim_milli").over(wd), F.lead("sim_milli").over(wd)
    depth = (F.coalesce(prev - F.col("sim_milli"), F.lit(0))
             + F.coalesce(nxt - F.col("sim_milli"), F.lit(0)))
    is_min = ((prev.isNull() | (F.col("sim_milli") < prev))
              & (nxt.isNull() | (F.col("sim_milli") < nxt)))
    return gaps.select(
        F.col("doc").alias("doc_id"), F.col("g").alias("gap_idx"),
        "sim_milli", depth.cast("long").alias("depth"),
        (is_min & (depth > depth_threshold_milli)).alias("is_boundary"))


def stopword_induction(documents: DataFrame, min_total: int = 20,
                       df_threshold_permille: int = 500,
                       vmr_threshold_milli: int = 2000,
                       doc_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Corpus-driven stopword induction (Wilbur & Sirotkin 1992's
    statistical take, as used when a web corpus spans languages no
    curated list covers): a term is a stopword candidate when it is
    UBIQUITOUS (document frequency above ``df_threshold_permille``)
    and POISSON-LIKE (burstiness VMR below ``vmr_threshold_milli`` —
    content terms are bursty, function words are not).  Combines the
    :func:`burstiness` statistic with document frequency in one
    pass.

    Same shape as burstiness: two keyed groupBys + a 1-row N
    broadcast; all integer.  Returns (term, n_docs, df_permille,
    vmr_milli, is_stopword) for terms with total >= min_total."""
    pairs = (documents
             .select(F.col(doc_col).alias("doc"),
                     F.explode(tokens(F.col(text_col))).alias("term"))
             .groupBy("doc", "term")
             .agg(F.count(F.lit(1)).cast("long").alias("c")))
    per_term = (pairs.groupBy("term")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("c").cast("long").alias("total"),
                     F.sum(F.col("c") * F.col("c")).cast("long")
                     .alias("sum_sq"))
                .where(F.col("total") >= min_total))
    n_row = documents.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = (per_term.crossJoin(F.broadcast(n_row))
            .select("term", "n_docs",
                    F.expr("n_docs * 1000 div n").cast("long")
                    .alias("df_permille"),
                    # same DECIMAL(38) widening as burstiness(): the
                    # *1000 milli-scale overflows int64 for corpus-
                    # frequent terms at large N, silently in Spark
                    F.expr("((cast(n as decimal(38,0)) * sum_sq"
                           " - cast(total as decimal(38,0)) * total)"
                           " * 1000) div"
                           " (cast(n as decimal(38,0)) * total)")
                    .cast("long").alias("vmr_milli")))
    return base.withColumn(
        "is_stopword",
        (F.col("df_permille") >= df_threshold_permille)
        & (F.col("vmr_milli") <= vmr_threshold_milli))


def hashed_classifier_score(documents: DataFrame, weights: DataFrame,
                            n_buckets: int = 4096,
                            bias_milli: int = 0,
                            threshold_milli: int = 0,
                            doc_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Hashed bag-of-words linear classifier scoring — the fastText-
    style model-based quality filter modern pretraining pipelines run
    after the rule gates (DCLM / RedPajama-2: a linear model over
    hashed n-gram features decides keep/drop; the heavy lift at
    inference is exactly this operator).  The model arrives as a
    TABLE (bucket, weight_milli) — the production handoff shape: a
    trainer writes weights, the Spark job joins them, no model binary
    in the executor image.

    score(doc) = bias + mean over tokens of weight[bucket(token)],
    all integer milli arithmetic: the token-sum is an exact long and
    ONE integer division (div n_tokens) makes mean-pooling replayable
    bit-for-bit in any engine — floats never appear.

    Scale shape: tokenize + hash map-side (JVM md5 via
    :func:`ferenda_spark.operators.training.portable_bucket`), ONE
    broadcast join against the weight table (dimension-sized: even a
    2^21-bucket model is megabytes), one doc-keyed aggregate.  The
    token stream never shuffles except keyed on doc_id for the mean.

    Returns (doc_id, n_tokens, score_milli, keep) — keep is
    score >= threshold; empty docs score the bare bias."""
    from .training import portable_bucket
    toks = (documents
            .select(F.col(doc_col).alias("doc_id"),
                    F.explode(tokens(F.col(text_col))).alias("tok"))
            .where(F.col("tok") != ""))
    feats = toks.select(
        "doc_id", portable_bucket(F.col("tok"), n_buckets).alias("b"))
    w = weights.select(F.col("bucket").alias("b"),
                       F.col("weight_milli").cast("long")
                       .alias("w"))
    per_doc = (feats.join(F.broadcast(w), "b", "left")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                    F.sum(F.coalesce(F.col("w"), F.lit(0)))
                    .cast("long").alias("wsum")))
    base = documents.select(F.col(doc_col).alias("doc_id")).distinct()
    out = (base.join(per_doc, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_tokens", F.lit(0)).cast("long")
                   .alias("n_tokens"),
                   (F.lit(int(bias_milli))
                    + F.coalesce(F.expr("wsum div n_tokens"),
                                 F.lit(0))).cast("long")
                   .alias("score_milli")))
    return out.withColumn(
        "keep", F.col("score_milli") >= F.lit(int(threshold_milli)))


def kneser_ney_bigram(documents: DataFrame,
                      discount_quarters: int = 3,
                      doc_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney, ICASSP
    1995; Chen & Goodman 1999 found it the best-performing n-gram
    smoother — the LM behind CCNet-style perplexity filtering):

        P(w2|w1) = max(c12 - d, 0)/c1 + d*D1(w1)/c1 * Pcont(w2)
        Pcont(w2) = N1+(.w2) / T      (distinct-left-context counts)

    Exact-integer restatement with the discount as a quarter
    fraction (default d = 3/4, the textbook value): multiplying
    through by 4*c1*T gives

        p_ppm = 10^6 * (max(4*c12 - q, 0)*T + q*D1(w1)*N1+(.w2))
                div (4 * c1 * T)

    with ``q = discount_quarters`` — every term a long, widened to
    DECIMAL(38) for the product (c1, T up to 10^9 each stay inside
    38 digits), so a SQL replay matches bit-for-bit.  The continuation
    distribution is the PART that makes KN beat add-k: "Francisco"
    is frequent but follows only "San", so its unseen-context
    probability is tiny — captured here by N1+(.w2) being a DISTINCT
    count, not a frequency.

    Scale shape: bigrams are built map-side with zip_with over the
    token array (no posexplode self-join); then three keyed
    aggregates (pair counts, left-context rollup, right-context
    distinct) and one 1-row T broadcast.  Output is the MODEL TABLE
    (w1, w2, c12, c1, d1_w1, ncont_w2, p_kn_ppm), bigram-type-sized
    — the artifact a scorer broadcast-joins afterwards."""
    tk = F.col("tokens_")
    nn = F.size(tk)
    bigr = F.zip_with(F.slice(tk, F.lit(1), nn - 1),
                      F.slice(tk, F.lit(2), nn - 1),
                      lambda a, b: F.struct(a.alias("w1"),
                                            b.alias("w2")))
    pairs = (documents
             .select(tokens(F.col(text_col)).alias("tokens_"))
             .where(F.size("tokens_") >= 2)
             .select(F.explode(bigr).alias("p"))
             .select(F.col("p.w1").alias("w1"),
                     F.col("p.w2").alias("w2"))
             .where((F.col("w1") != "") & (F.col("w2") != "")))
    c12 = (pairs.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).cast("long").alias("c12")))
    left = (c12.groupBy("w1")
            .agg(F.sum("c12").cast("long").alias("c1"),
                 F.count(F.lit(1)).cast("long").alias("d1_w1")))
    right = (c12.groupBy("w2")
             .agg(F.count(F.lit(1)).cast("long").alias("ncont_w2")))
    t_row = c12.agg(F.count(F.lit(1)).cast("long").alias("t"))
    q = int(discount_quarters)
    p_ppm = F.expr(
        "cast(1000000 as decimal(38,0)) * "
        "(greatest(4 * c12 - %d, 0) * cast(t as decimal(38,0))"
        " + %d * d1_w1 * cast(ncont_w2 as decimal(38,0)))"
        " div (cast(4 as decimal(38,0)) * c1 * t)" % (q, q))
    return (c12.join(left, "w1").join(right, "w2")
            .crossJoin(F.broadcast(t_row))
            .select("w1", "w2", "c12", "c1", "d1_w1", "ncont_w2",
                    p_ppm.cast("long").alias("p_kn_ppm")))


def kneser_ney_doc_score(documents: DataFrame,
                         discount_quarters: int = 3,
                         doc_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-document LM score under the corpus-trained Kneser-Ney
    bigram model — the FILTER application of :func:`kneser_ney_
    bigram` (CCNet lineage: score each page under a reference LM,
    bucket the corpus by the score): score = integer mean of the
    doc's bigram probabilities (ppm), unseen bigrams contributing 0
    observed mass (they fall into the reserved continuation mass by
    construction).

    Scale shape: the model table is bigram-type-sized; docs explode
    to bigrams map-side and join the model on (w1, w2) — a keyed
    hash join, broadcastable when the vocabulary is bounded — then
    one doc-keyed mean.  Returns (doc_id, n_bigrams, score_ppm)."""
    model = kneser_ney_bigram(documents, discount_quarters,
                              doc_col, text_col)
    tk = F.col("tokens_")
    nn = F.size(tk)
    bigr = F.zip_with(F.slice(tk, F.lit(1), nn - 1),
                      F.slice(tk, F.lit(2), nn - 1),
                      lambda a, b: F.struct(a.alias("w1"),
                                            b.alias("w2")))
    db = (documents
          .select(F.col(doc_col).alias("doc_id"),
                  tokens(F.col(text_col)).alias("tokens_"))
          .where(F.size("tokens_") >= 2)
          .select("doc_id", F.explode(bigr).alias("p"))
          .select("doc_id", F.col("p.w1").alias("w1"),
                  F.col("p.w2").alias("w2"))
          .where((F.col("w1") != "") & (F.col("w2") != "")))
    scored = (db.join(model.select("w1", "w2", "p_kn_ppm"),
                      ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                   F.sum("p_kn_ppm").cast("long").alias("psum")))
    base = documents.select(F.col(doc_col).alias("doc_id")).distinct()
    return (base.join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce(F.expr("psum div n_bigrams"),
                               F.lit(0)).cast("long")
                    .alias("score_ppm")))


def good_turing_counts(documents: DataFrame,
                       doc_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Good-Turing count-of-counts table over the unigram vocabulary
    (Good 1953; the frequency-of-frequencies statistic behind
    Simple Good-Turing smoothing and the classic vocabulary-growth
    / unseen-mass estimate p0 = N1/N):

    one row per observed raw count r: (r, n_r) plus the adjusted
    count r* = (r+1) * n_{r+1} / n_r as integer ppm-scaled milli
    (``r_star_milli = (r+1) * n_{r+1} * 1000 div n_r``; NULL where
    n_{r+1} = 0 — the raw estimator is undefined there, which is
    exactly why SGT fits a power law for large r).

    Scale shape: two keyed aggregates (term counts, then counts of
    counts — the second is at most #distinct-counts rows, tiny) and
    ONE ordered self-alignment via a lag window over the
    dimension-sized table.  Returns (r, n_r, r_star_milli)."""
    from pyspark.sql import Window
    term_counts = (documents
                   .select(F.explode(tokens(F.col(text_col)))
                           .alias("term"))
                   .where(F.col("term") != "")
                   .groupBy("term")
                   .agg(F.count(F.lit(1)).cast("long").alias("r")))
    coc = (term_counts.groupBy("r")
           .agg(F.count(F.lit(1)).cast("long").alias("n_r")))
    # dimension-sized global window (#distinct counts rows) — the
    # empty partition spec is safe here, never on a data-sized frame
    w = Window.orderBy(F.col("r").asc())
    staged = coc.select(
        "r", "n_r",
        F.lead("r").over(w).alias("next_r"),
        F.lead("n_r").over(w).alias("next_n"))
    return staged.select(
        "r", "n_r",
        F.when(F.col("next_r") == F.col("r") + 1,
               F.expr("(r + 1) * next_n * 1000 div n_r"))
        .cast("long").alias("r_star_milli"))


def simple_good_turing(documents: DataFrame,
                       doc_col: str = "doc_id",
                       text_col: str = "text",
                       round_to: int = 6) -> DataFrame:
    """Simple Good-Turing smoothing (Gale & Sampson, J. Quant.
    Linguistics 1995) — the production-grade completion of
    :func:`good_turing_counts`: the raw r* estimator is undefined
    wherever n_{r+1} = 0, so SGT (1) smooths the count-of-counts by
    Gale's averaging transform Z_r = 2 n_r / (t - q) over the
    NONZERO neighbors q < r < t (endpoints: q = 0, t = 2r - q), then
    (2) fits log Z on log r by least squares, giving the power law
    S(r) = e^a r^b, and (3) reads the smoothed adjusted count off
    the fit: r*_SGT = (r+1) (S(r+1)/S(r)) = (r+1) ((r+1)/r)^b.
    The unseen-probability mass is the classic p0 = n_1 / N.

    Scale shape: everything after the term-count groupBy runs on the
    count-of-counts table — at most #distinct-frequencies rows
    (tens), so the global lag/lead window and the 1-row fit
    broadcast are dimension-sized by construction.  Doubles appear
    only in the pinned OLS/power expressions (the zipf_fit
    convention: one expression order, replayed identically in SQL);
    p0 is integer ppm.

    Returns one row per observed count r:
    (r, n_r, z, slope, intercept, r_star_sgt, p0_ppm)."""
    from pyspark.sql import Window
    term_counts = (documents
                   .select(F.explode(tokens(F.col(text_col)))
                           .alias("term"))
                   .where(F.col("term") != "")
                   .groupBy("term")
                   .agg(F.count(F.lit(1)).cast("long").alias("r")))
    coc = (term_counts.groupBy("r")
           .agg(F.count(F.lit(1)).cast("long").alias("n_r")))
    w = Window.orderBy(F.col("r").asc())
    q = F.coalesce(F.lag("r").over(w), F.lit(0))
    t = F.coalesce(F.lead("r").over(w),
                   F.lit(2) * F.col("r") - F.coalesce(
                       F.lag("r").over(w), F.lit(0)))
    z = (F.lit(2.0) * F.col("n_r").cast("double")
         / (t - q).cast("double"))
    pts = coc.select(
        "r", "n_r", z.alias("z"),
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(z).alias("y"))
    fit = (pts.agg(F.count(F.lit(1)).cast("long").alias("n_fit"),
                   F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                   F.sum(F.col("x") * F.col("y")).alias("sxy"),
                   F.sum(F.col("x") * F.col("x")).alias("sxx"))
           .select(((F.col("n_fit").cast("double") * F.col("sxy")
                     - F.col("sx") * F.col("sy"))
                    / (F.col("n_fit").cast("double") * F.col("sxx")
                       - F.col("sx") * F.col("sx"))).alias("slope_raw"),
                   "n_fit", "sx", "sy")
           .select("slope_raw",
                   ((F.col("sy") - F.col("slope_raw") * F.col("sx"))
                    / F.col("n_fit").cast("double"))
                   .alias("intercept_raw")))
    tot = term_counts.agg(
        F.sum("r").cast("long").alias("n_total"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"))
    r_star = ((F.col("r") + 1).cast("double")
              * F.pow((F.col("r") + 1).cast("double")
                      / F.col("r").cast("double"),
                      F.col("slope_raw")))
    return (pts.crossJoin(F.broadcast(fit))
            .crossJoin(F.broadcast(tot))
            .select("r", "n_r",
                    F.round("z", round_to).alias("z"),
                    F.round("slope_raw", round_to).alias("slope"),
                    F.round("intercept_raw", round_to)
                    .alias("intercept"),
                    F.round(r_star, round_to).alias("r_star_sgt"),
                    F.expr("n1 * 1000000 div n_total")
                    .cast("long").alias("p0_ppm")))
