"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction query; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the DuckDB
equivalent over the same parquet tables.

The KG queries operate on a deterministic `pages` corpus derived from
the driver's `documents` table (ferenda_spark/corpus.py): every planted
fact is a closed-form function of doc_id, so the oracle can compute the
*expected* triples in pure SQL while the Spark side recovers them by
actually parsing the generated HTML (FSM, citation scanning, entity
linking, connected components).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------- helpers

_DOCS_CACHE: dict = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    if key not in _DOCS_CACHE:
        from ferenda_spark.corpus import load_pages
        from ferenda_spark.pipeline import parsed_docs
        _DOCS_CACHE[key] = parsed_docs(load_pages(spark, sf_dir)).cache()
    return _DOCS_CACHE[key]


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ferenda_spark.pipeline import corpus_triples
    return corpus_triples(spark, _docs(spark, sf_dir))


_MAPPING_CACHE: dict = {}


def _canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sameAs canonicalization STAGE TABLE: the connected-
    components fixpoint runs ONCE per corpus and is committed to a
    snapshot table; every consumer (kg_sameas_canonical,
    kg_canonical_triples, downstream rewrites) reads the stored
    mapping back instead of re-running the fixpoint per query — the
    production shape, where canonicalization is an ingest stage, not
    a query-time computation."""
    key = (id(spark), sf_dir)
    if key not in _MAPPING_CACHE:
        import tempfile

        from ferenda_spark.operators.canonicalize import sameas_components
        from ferenda_spark.snaptable import SnapshotTable
        tbl = SnapshotTable(tempfile.mkdtemp(
            prefix="ferenda_spark_sameas_stage_"))
        tbl.create(sameas_components(_triples(spark, sf_dir)))
        _MAPPING_CACHE[key] = tbl.read(spark)
    return _MAPPING_CACHE[key]


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = spark.read.parquet("%s/%s.parquet" % (sf_dir.rstrip("/"), table))
    # The sandbox parquet is one row-group -> one input split, which
    # would serialize every downstream expression onto a single core.
    # Production Iceberg layouts provide real splits (this is then a
    # no-op); here we spread explicitly, as load_pages does.
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction + faceted_data pivot at sf0.001 (the
    registered, oracle-checked ``kg_faceted_data`` query)."""
    return queries()["kg_faceted_data"](spark, "/root/testdata/sf0.001")


# ----------------------------------------------------------- KG queries

def _q_doc_triples(spark, sf_dir):
    from ferenda_spark.operators.triples import doc_triples
    return doc_triples(_docs(spark, sf_dir))


def _q_section_triples(spark, sf_dir):
    from ferenda_spark.operators.triples import section_triples
    return section_triples(_docs(spark, sf_dir))


def _q_mention_triples(spark, sf_dir):
    from ferenda_spark.operators.triples import mention_triples
    return mention_triples(_docs(spark, sf_dir))


def _q_entity_mentions(spark, sf_dir):
    from ferenda_spark.operators.linking import (build_resources,
                                                 entity_mention_triples)
    return entity_mention_triples(_docs(spark, sf_dir),
                                  build_resources(spark))


def _q_triples_by_pred(spark, sf_dir):
    return (_triples(spark, sf_dir)
            .groupBy("pred").agg(F.count("*").alias("n")))


def _q_faceted(spark, sf_dir):
    from ferenda_spark.operators.facets import faceted_data
    return faceted_data(_triples(spark, sf_dir))


def _q_sameas_canonical(spark, sf_dir):
    """T11: the canonicalization stage — builds (and commits) the
    sameAs mapping snapshot table that downstream queries join."""
    return _canonical_mapping(spark, sf_dir)


def _q_links(spark, sf_dir):
    return (_docs(spark, sf_dir)
            .select("url", F.explode("links").alias("href")))


def _q_kg_host_graph(spark, sf_dir):
    """Host-level web-graph rollup over the extracted link graph (the
    Common-Crawl domain-graph product): canonicalize both endpoints,
    project to hosts, one pair-keyed aggregate."""
    from ferenda_spark.operators.cleaning import host_graph
    links = _docs(spark, sf_dir).select(
        "url", F.explode("links").alias("href"))
    return host_graph(links).orderBy("src_host", "dst_host")


def _q_toc_pagesets(spark, sf_dir):
    from ferenda_spark.operators.facets import faceted_data, toc_pagesets
    return toc_pagesets(faceted_data(_triples(spark, sf_dir)))


def _q_api_stats(spark, sf_dir):
    from ferenda_spark.operators.facets import api_stats, faceted_data
    return api_stats(faceted_data(_triples(spark, sf_dir)))


def _q_extracted_docs(spark, sf_dir):
    """Metadata-extraction surface (P5): one row per parsed document."""
    return _docs(spark, sf_dir).select(
        "url", "doc_id", "doc_uri", "kind", "title", "lang",
        "identifier", "issued", "subject",
        F.col("publisher_id").cast("long").alias("publisher_id"),
        "entity_label", "same_as_id",
        F.size("sections").alias("n_parts"))


# ---------------------------------------------------- relational queries

def _q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double")
                 .alias("sum_base_price"),
                 F.sum(dec("l_extendedprice")
                       * (F.lit(1) - dec("l_discount"))).cast("double")
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def _q_top_revenue_orders(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (o.where(F.col("o_orderstatus") == "O")
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(dec("l_extendedprice")
                       * (F.lit(1) - dec("l_discount"))).cast("double")
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


def _q_latest_event_per_user(spark, sf_dir):
    from pyspark.sql import Window
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type", "value"))


def _q_feed_archive_pages(spark, sf_dir):
    from ferenda_spark.operators.facets import news_feeds
    ev = (_read(spark, sf_dir, "events")
          .withColumn("uri", F.col("event_id")))
    fed = news_feeds(ev, feed_col="event_type", ts_col="ts", page_size=100)
    return (fed.groupBy("event_type", "archive_page")
            .agg(F.count("*").alias("n"),
                 F.min("event_id").alias("min_event")))


def _q_event_type_user_stats(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count("*").alias("n_events")))


def _q_events_month_histogram(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.select(F.date_format("ts", "yyyy-MM").alias("month"))
            .groupBy("month").agg(F.count("*").alias("n")))


def _q_events_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation (streaming.py) run in
    batch mode — the SAME definition serves the stream; the watermark
    is a no-op on a batch frame."""
    from ferenda_spark.streaming import windowed_event_counts
    return windowed_event_counts(_read(spark, sf_dir, "events"))


def _q_events_asof_attribution(spark, sf_dir):
    """Last-touch attribution as an AS-OF JOIN: every purchase picks
    the same user's most recent click at-or-before it.  Implemented
    as tag-union + one keyed window (operators/temporal.asof_join) —
    never an inequality join, which Spark compiles to a nested loop.
    Oracle: DuckDB LATERAL top-1, the declarative statement of the
    same semantics."""
    from ferenda_spark.operators.temporal import asof_join
    ev = _read(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_event_id"),
                      "user_id", F.col("ts").alias("click_ts")))
    return (asof_join(purchases, clicks, on=["user_id"],
                      point_ts="ts", dim_ts="click_ts",
                      payload=["click_event_id", "click_ts"],
                      tiebreak="click_event_id")
            .select("event_id", "user_id",
                    "asof_click_event_id", "asof_click_ts")
            .orderBy("event_id"))


def _q_events_range_join(spark, sf_dir):
    """Point-in-interval RANGE JOIN: purchases inside the 24 h window
    after any signup by the same user.  Implemented bucketized
    (operators/temporal.range_join): intervals explode to 6 h
    buckets, points map to one bucket, equi-join + exact containment
    filter — bounded fan-out instead of Spark's nested-loop plan for
    raw inequality predicates."""
    from ferenda_spark.operators.temporal import range_join
    ev = _read(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", "ts"))
    signups = (ev.where(F.col("event_type") == "signup")
               .select(F.col("event_id").alias("signup_id"), "user_id",
                       F.col("ts").alias("win_start"),
                       (F.col("ts") + F.expr("INTERVAL 24 HOURS"))
                       .alias("win_end")))
    return (range_join(purchases, signups, ["user_id"],
                       "ts", "win_start", "win_end",
                       granularity_s=21600)
            .select("purchase_id", "signup_id", "user_id")
            .orderBy("purchase_id", "signup_id"))


def _q_events_sessions(spark, sf_dir):
    """Batch twin of the stateful-streaming sessionizer
    (streaming.sessionize): gap-based user sessions via window
    lag/cumsum, deterministic (ts, event_id) ordering."""
    from ferenda_spark.streaming import sessionize
    return sessionize(_read(spark, sf_dir, "events"), gap_minutes=30)


def _q_wiki_links(spark, sf_dir):
    """S8 wiki branch end-to-end through Spark: deterministic
    per-document MediaWiki export XML -> the real wiki_pages
    map_rows stage (dump parse, template strip, category + link
    extraction) -> exploded link rows; the oracle recomputes the
    closed-form expectation in SQL."""
    from ferenda_spark.wikitext import wiki_pages
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


def _q_customers_without_orders(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .select("c_custkey", "c_name"))


def _q_search_documents(spark, sf_dir):
    from ferenda_spark.operators.search import compile_query
    docs = _read(spark, sf_dir, "documents")
    return compile_query(docs, q="spark merge", boosts={"text": 1.0},
                         page=0, page_size=20, id_col="doc_id",
                         text_fields=("text",)).select("doc_id", "score")


def _q_autocomplete_titles(spark, sf_dir):
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.operators.search import autocomplete
    fd = faceted_data(_triples(spark, sf_dir))
    return (autocomplete(fd, "Document 1", "dcterms_title", limit=15)
            .select("uri", "dcterms_title"))


def _q_dedup_exact(spark, sf_dir):
    from ferenda_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_read(spark, sf_dir, "documents"))


def _q_dedup_minhash_pairs(spark, sf_dir):
    from ferenda_spark.operators.dedup import minhash_band_pairs
    return minhash_band_pairs(_read(spark, sf_dir, "documents"),
                              n=3, num_hashes=8, band_size=2)


def _q_dedup_minhash_clusters(spark, sf_dir):
    """Dedup pipeline completion: candidate pairs -> transitive
    duplicate clusters with a canonical representative per cluster
    (min doc id) — pairs alone under-deduplicate when A~B and B~C but
    A,C never share a bucket.  Oracle: recursive-CTE reachability over
    the same pair graph."""
    from ferenda_spark.operators.dedup import (dup_clusters,
                                               minhash_band_pairs)
    pairs = minhash_band_pairs(_read(spark, sf_dir, "documents"),
                               n=3, num_hashes=8, band_size=2)
    return dup_clusters(pairs)


def _q_dedup_spans(spark, sf_dir):
    """Cross-document exact-substring duplicate spans (Lee et al. 2022
    suffix-array dedup in its distributable window-hash form): hash
    every 4-token window map-side, ONE |tokens|-shuffle groupBy finds
    hashes in >= 2 docs, positions semi-join the (small, AQE-broadcast)
    duplicated-hash set, and overlapping windows merge into maximal
    spans per doc via a doc-partitioned gaps-and-islands window."""
    from ferenda_spark.operators.dedup import repeated_spans
    sp = repeated_spans(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        window=4, min_docs=2)
    return (sp.select("doc_id",
                      F.col("span_start").cast("long").alias("span_start"),
                      F.col("span_end").cast("long").alias("span_end"),
                      "n_windows")
            .orderBy("doc_id", "span_start"))


def _q_dedup_span_removed(spark, sf_dir):
    """The dedup TRANSFORM: every token covered by a cross-document
    duplicated span is cut, text rebuilt token-level in one JVM
    higher-order-function pass (per-doc span lists are small structs —
    no extra shuffle beyond repeated_spans' own)."""
    from ferenda_spark.operators.dedup import remove_repeated_spans
    out = remove_repeated_spans(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        window=4, min_docs=2)
    return (out.select("doc_id", "clean_text",
                       F.col("n_removed").cast("long").alias("n_removed"))
            .orderBy("doc_id"))


def _q_dedup_incremental(spark, sf_dir):
    """Incremental dedup: the doc_id%5==0 slice plays the incoming
    crawl batch, the rest the committed base corpus — batch band
    buckets equi-join the base signature table on (band, bucket);
    a new doc with no match is novel."""
    from ferenda_spark.operators.dedup import minhash_incremental_matches
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 5 == 0)
    base = d.where(F.col("doc_id") % 5 != 0)
    return (minhash_incremental_matches(batch, base,
                                        n=3, num_hashes=8, band_size=2)
            .orderBy("new_doc", "base_doc"))


def _q_dedup_edit_verified(spark, sf_dir):
    """Candidate verification: LSH-banded pairs confirmed by exact
    normalized Levenshtein (>= 0.8), rejecting banding's collision
    false positives before clustering merges distinct docs.  Text
    shuffles only for the candidate set; the O(len^2) kernel runs
    JVM-side per pair."""
    from ferenda_spark.operators.dedup import edit_verified_pairs
    return (edit_verified_pairs(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        n=3, num_hashes=8, band_size=2, min_sim=0.8)
        .orderBy("doc_a", "doc_b"))


def _q_dedup_minhash_estimate(spark, sf_dir):
    """Signature-only candidate verification: estimated Jaccard =
    fraction of agreeing minhash components — the cheap middle tier
    between banding and exact edit distance; text never shuffles."""
    from ferenda_spark.operators.dedup import minhash_estimated_jaccard
    return (minhash_estimated_jaccard(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_a", "doc_b"))


def _q_dedup_jaccard_pairs(spark, sf_dir):
    """Shingle-join Jaccard dedup WITH the hot-shingle skew guard on
    (r1 ran it guard-off — quadratic on hot shingles at scale):
    shingles occurring in > 100 docs are dropped before the self-join,
    mirrored in the oracle CTE."""
    from ferenda_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_read(spark, sf_dir, "documents"),
                               n=3, threshold=0.1, max_shingle_freq=100)


def _q_dedup_containment(spark, sf_dir):
    """Asymmetric shingle containment over the corpus plus planted
    10-token excerpts of every 5th doc: the excerpt's 3-gram set is a
    subset of its source's, so c(excerpt -> source) = 1.0 while the
    reverse (and plain Jaccard) stays tiny — the quote/subset dedup
    rule.  Threshold 0.8; hot-shingle guard (>100 docs) mirrored in
    the oracle."""
    from ferenda_spark.operators.dedup import containment_pairs, tokens
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    exc = (d.where(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"),
                   F.array_join(F.slice(tokens(F.col("text")), 1, 10),
                                " ").alias("text")))
    return (containment_pairs(d.unionByName(exc), n=3, threshold=0.8)
            .orderBy("doc_a", "doc_b"))


def _q_dedup_meta_blocking(spark, sf_dir):
    """Meta-blocking (Papadakis TKDE 2014): word-2-gram token
    blocking, block purging at size 20 (the hot-key guard), CBS edge
    weights via the bounded in-block self-join, weighted node pruning
    (keep a pair iff its shared-block count reaches the mean incident
    weight of either endpoint) — the comparison-graph pruner that
    runs BEFORE any expensive ER matcher.  Top 500 by (cbs, pair) is
    a TakeOrdered."""
    from ferenda_spark.operators.dedup import meta_blocking_pairs
    return (meta_blocking_pairs(_read(spark, sf_dir, "documents"),
                                n=2, max_block=20)
            .orderBy(F.col("cbs").desc(), "doc_a", "doc_b")
            .limit(500))


def _q_dedup_simhash(spark, sf_dir):
    from ferenda_spark.operators.dedup import simhash
    return simhash(_read(spark, sf_dir, "documents"))


def _q_text_token_stats(spark, sf_dir):
    from ferenda_spark.operators.textstats import token_stats
    return token_stats(_read(spark, sf_dir, "documents"))


def _q_text_lm_score(spark, sf_dir):
    """CCNet-style corpus-trained bigram-LM quality scoring: every
    count is a map-side-partial hash aggregate, |V| is a broadcast
    1-row aggregate, and the scoring join keys on bigrams — nothing
    shuffles text."""
    from ferenda_spark.operators.textstats import bigram_lm_scores
    return (bigram_lm_scores(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id"))


def _q_text_entropy(spark, sf_dir):
    """Unigram Shannon entropy per document (nats): the gibberish /
    degenerate-repetition signal next to the LM score; shuffles key
    on (doc, token) then doc, never on text."""
    from ferenda_spark.operators.textstats import token_entropy
    return (token_entropy(_read(spark, sf_dir, "documents")
                          .select("doc_id", "text"))
            .orderBy("doc_id"))


def _q_text_tfidf_terms(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (statistical counterpart
    of the reference's curated keyword/term aggregation, SURVEY.md
    T10); ranking on the rounded score so the order is
    engine-portable."""
    from ferenda_spark.operators.textstats import tfidf_top_terms
    return (tfidf_top_terms(_read(spark, sf_dir, "documents")
                            .select("doc_id", "text"), k=3)
            .orderBy("doc_id", "rank"))


def _q_text_script_mix(spark, sf_dir):
    """Unicode-script composition with planted Cyrillic/CJK/Arabic
    runs (the corpus is pure Latin soup): doc_id%4 picks the script,
    doc_id%5 scales the run so dominance provably flips on the long
    runs and stays latin on the short ones — both branches of the
    dominant-script CASE fire."""
    from ferenda_spark.operators.textstats import script_mix
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


def _q_text_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity buckets (Wenzek et al.
    2020): head/middle/tail thirds per language by corpus-LM score.
    The tertile rule is rank-based integer arithmetic over the
    groupBy(lang, score) aggregate — never a per-language NTILE
    window over the doc stream (a hot language would be one task)."""
    from ferenda_spark.operators.textstats import ccnet_buckets
    return (ccnet_buckets(
        _read(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text"))
        .orderBy("doc_id"))


def _q_text_gopher(spark, sf_dir):
    """Gopher rule-set quality filter (Rae et al. 2021 A1.1): per-rule
    booleans + composite keep, one map-side pass, zero shuffles."""
    from ferenda_spark.operators.textstats import gopher_rules
    return (gopher_rules(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id"))


def _q_text_length_quantiles(spark, sf_dir):
    """Per-source token-length distribution: exact interpolated
    percentiles (p10/p50/p90/p99) + mean — the corpus-profiling pass
    a mixture designer runs before setting sampling weights.  Exact
    percentile sorts within the aggregate; at 10^12 rows the same
    query swaps to percentile_approx (t-digest, no sort) — the exact
    form is kept here because the oracle compares values."""
    from ferenda_spark.operators.dedup import tokens
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


def _q_text_quality(spark, sf_dir):
    from ferenda_spark.operators.textstats import quality_score
    return quality_score(_read(spark, sf_dir, "documents"))


def _q_text_lang_id(spark, sf_dir):
    from ferenda_spark.operators.textstats import lang_id
    return lang_id(_read(spark, sf_dir, "documents"))


def _q_text_fingerprint(spark, sf_dir):
    from ferenda_spark.operators.textstats import fingerprint
    return fingerprint(_read(spark, sf_dir, "documents"))


_SIM_QUERY_IDS = [0, 7, 42, 123]


def _q_sim_cosine_topk(spark, sf_dir):
    from ferenda_spark.operators.similarity import cosine_topk
    return cosine_topk(_read(spark, sf_dir, "embeddings"),
                       _SIM_QUERY_IDS, k=10)


def _q_sim_lsh_topk(spark, sf_dir):
    """ANN scale path: banded sign-LSH (8 bits x 4 bands,
    OR-construction) — r1's single 4-bit table is now one band of a
    multi-table design."""
    from ferenda_spark.operators.similarity import lsh_bucketed_topk
    return lsh_bucketed_topk(_read(spark, sf_dir, "embeddings"),
                             _SIM_QUERY_IDS, k=10,
                             bits_per_band=8, n_bands=4)


def _q_clean_strip_boilerplate(spark, sf_dir):
    """C4-style line-level boilerplate removal.  The corpus is
    single-line word soup, so lines are synthesized deterministically
    (splitting on ' the ' — mirrored verbatim in the oracle); lines
    shared by >= 3 documents are boilerplate and removed from every
    document, order preserved."""
    from ferenda_spark.operators.cleaning import strip_hot_lines
    docs = (_read(spark, sf_dir, "documents")
            .select("doc_id",
                    F.regexp_replace("text", " the ", "\n")
                    .alias("text")))
    return strip_hot_lines(docs, min_docs=3)


def _q_text_c4_rules(spark, sf_dir):
    """C4 page rule set (Raffel et al. 2020 §2.2).  The corpus is
    single-line unpunctuated word soup, so sentence structure is
    synthesized deterministically (terminal-punct lines via the
    ' the '/' value ' split, mirrored verbatim in the oracle) and the
    page poisons are planted on closed-form doc-id slices (%17 lorem
    ipsum, %23 curly brace) so both reject branches provably fire."""
    from ferenda_spark.operators.cleaning import c4_rules
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


def _q_search_bm25(spark, sf_dir):
    """Full BM25 over the documents corpus for three fixed
    information needs: exact-token tf, Lucene-form idf, k1/b length
    normalization against the corpus mean doc length.  The real
    scorer behind the reference's whoosh/ES surface (SURVEY.md Q8),
    oracle-exact."""
    from ferenda_spark.operators.search import bm25_rank
    needs = spark.createDataFrame(
        [("q_spark", "spark"), ("q_spark", "window"),
         ("q_cust", "customer"), ("q_cust", "join"),
         ("q_vec", "vector"), ("q_vec", "merge"), ("q_vec", "batch")],
        "query string, term string")
    return (bm25_rank(_read(spark, sf_dir, "documents")
                      .select("doc_id", "text"), needs, limit=15)
            .orderBy("query", "rank"))


def _q_dedup_url_recrawl(spark, sf_dir):
    """Recrawl dedup: messy URLs planted so ~3.5 docs share each
    canonical URL (id param mod 10 instead of url_canonical's mod 50),
    capture timestamps in closed form from doc_id; keep the newest
    capture per canonical URL via the two-phase bucketed k=1 cap."""
    from ferenda_spark.operators.cleaning import best_capture
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


def _q_clean_redact_pii(spark, sf_dir):
    """PII redaction: deterministic email/IP suffixes are planted per
    doc, then redacted by the regexp_replace chain; the oracle is the
    closed form of the expected redaction (asserts the regexes match
    exactly what they should, nothing else)."""
    from ferenda_spark.operators.cleaning import redact_pii
    docs = (_read(spark, sf_dir, "documents")
            .withColumn("text", F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"), F.lit(".7"))))
    return redact_pii(docs).select("doc_id", "text_redacted")


def _q_clean_repetition_stats(spark, sf_dir):
    """Gopher repetition signals: duplicate bigram/trigram fraction
    per document (map-side list expressions only)."""
    from ferenda_spark.operators.cleaning import repetition_stats
    return repetition_stats(_read(spark, sf_dir, "documents"), ns=(2, 3))


def _q_clean_contaminated(spark, sf_dir):
    """Benchmark decontamination: documents sharing any 13-gram with
    the probe texts (docs 5 and 105 as the stand-in benchmark set) —
    broadcast probe-gram join, md5-keyed."""
    from ferenda_spark.operators.cleaning import contaminated
    docs = _read(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id").isin([5, 105])).select("text")
    return contaminated(docs, probes, n=13)


def _q_train_stratified_sample(spark, sf_dir):
    """Training-pipeline stratified sampling: deterministic portable-
    hash subsample per source (no RNG, nested across fractions,
    map-side filter — no shuffle at any scale)."""
    from ferenda_spark.operators.training import stratified_sample
    return stratified_sample(
        _read(spark, sf_dir, "documents"), "source",
        {"src0": 0.5, "src1": 0.25, "src2": 0.8},
        default=0.1).select("doc_id", "source")


def _q_train_packed_sequences(spark, sf_dir):
    """GPT-style sequence packing: hash-sharded concat-then-chunk
    token layout; one bounded per-shard cumulative-sum window."""
    from ferenda_spark.operators.training import pack_sequences
    return pack_sequences(_read(spark, sf_dir, "documents"),
                          max_tokens=512, n_shards=8)


def _q_train_mixture_order(spark, sf_dir):
    """Deterministic weighted source interleave (mixture schedule);
    per-source ranks via bounded (source, bucket) windows + broadcast
    bucket offsets — no global row_number."""
    from ferenda_spark.operators.training import mixture_order
    return mixture_order(_read(spark, sf_dir, "documents"), "source",
                         {"src0": 3.0, "src1": 1.0},
                         default_weight=2.0)


def _q_train_doc_chunks(spark, sf_dir):
    """Sliding-window token chunking (RAG / pretraining context
    assembly): overlapping 16-token windows, stride 12, with token
    coordinates.  Map-side sequence()+explode — no shuffle, no UDF."""
    from ferenda_spark.operators.training import chunk_documents
    return chunk_documents(_read(spark, sf_dir, "documents"),
                           window=16, stride=12)


def _q_train_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus assembly in one call
    (operators.training.train_corpus): exact dedup keep-one ->
    MinHash-LSH near-dup cluster keep-one -> quality gate -> PII
    redaction -> sliding-window chunking.  PII suffixes are planted
    per doc (same closed form as clean_redact_pii) so the redaction
    stage provably does work; the oracle recomputes every stage in
    SQL over the same planted text."""
    from ferenda_spark.operators.training import train_corpus
    docs = (_read(spark, sf_dir, "documents")
            .withColumn("text", F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"), F.lit(".7"))))
    return train_corpus(docs)


def _q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: k-means coarse quantizer (deterministic
    Lloyd's, driver-held centroids), map-side list assignment,
    broadcast query-probe join on the list id, exact rescore within
    probed lists.  Run at nprobe = n_lists (probe everything) so the
    result is EXACTLY the brute-force answer and the DuckDB oracle is
    closed-form; the pruning (nprobe < n_lists) recall is pinned by
    tests/test_spark_ops.py::test_ivf_partial_probe_recall."""
    from ferenda_spark.operators.similarity import ivf_topk
    return ivf_topk(_read(spark, sf_dir, "embeddings"),
                    [3, 55, 201], k=8, n_lists=8, nprobe=8, iters=2)


def _q_sim_ivf_topk_pruned(spark, sf_dir):
    """IVF with nprobe < n_lists — the APPROXIMATE branch, oracle-
    exact by construction: the corpus is closed-form well-separated
    clusters (cross-cluster cosine exactly 0, disjoint support) and
    the quantizer is the true one-hot centroids (the offline-trained
    model a production index loads), so probing only the single
    nearest list provably returns the global brute-force top-k.  This
    pins the pruning path itself (probe selection, candidate join,
    within-list rescore), not just the probe-everything degenerate."""
    from ferenda_spark.operators.similarity import (
        clustered_embeddings, ivf_topk, one_hot_centroids)
    corpus = clustered_embeddings(
        _read(spark, sf_dir, "embeddings").select("vec_id"))
    return ivf_topk(corpus, [3, 55, 201], k=8, n_lists=4, nprobe=1,
                    centroids=one_hot_centroids())


def _q_sim_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN (the FAISS SQ8 index shape): per-dim
    min/max training — order-independent aggregates, exactly
    reproducible in any engine, unlike k-means means — int8 codes
    (4x smaller scan at rescore), asymmetric distance: dequantized
    bin-midpoint corpus vs exact query.  Same query ids and k as
    sim_cosine_topk so the two result sets measure the quantization
    loss directly."""
    from ferenda_spark.operators.similarity import sq8_topk
    return sq8_topk(_read(spark, sf_dir, "embeddings"),
                    [0, 7, 42, 123], dim=64, k=10)


def _q_sim_centroid_dist(spark, sf_dir):
    """Per-label centroid distances + L2 norms over the embeddings
    table: the cluster-hygiene outlier signal; ordered folds keep
    the floats engine-portable."""
    from ferenda_spark.operators.similarity import centroid_distances
    return (centroid_distances(_read(spark, sf_dir, "embeddings"))
            .orderBy("vec_id"))


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
    from ferenda_spark.operators.similarity import (
        one_hot_centroids, semantic_dedup, semdedup_embeddings)
    corpus = semdedup_embeddings(
        _read(spark, sf_dir, "embeddings").select("vec_id"))
    return (semantic_dedup(corpus, one_hot_centroids(), threshold=0.96)
            .orderBy("vec_id"))


def _q_train_domain_cap(spark, sf_dir):
    """RefinedWeb/C4-style per-domain quota: keep at most 5 docs per
    host by descending quality score (planted closed-form host with a
    deliberately hot domain — every third doc — so the cap provably
    prunes, and the two-phase bucketed ranking is exercised on the
    exact skew shape it exists for)."""
    from ferenda_spark.operators.training import domain_cap
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


def _q_train_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training: 12 merge rounds over the
    corpus word-frequency dictionary.  Iterative with a 1-row driver
    argmax per round — genuinely non-SQL-expressible, so no oracle
    entry (rows-only driver check); parity is pinned instead by
    tests/test_spark_ops.py against a pure-Python Sennrich trainer
    on randomized corpora."""
    from ferenda_spark.operators.training import bpe_train
    return bpe_train(_read(spark, sf_dir, "documents")
                     .select("doc_id", "text"), n_merges=12)


def _q_train_bpe_tokens(spark, sf_dir):
    """BPE piece counts per document under the corpus-trained merge
    table (train + encode end-to-end): type-dictionary encoding, so
    merges never touch the raw token stream.  Rows-only like
    train_bpe_merges (iterative); parity pinned by the pure-Python
    encoder test."""
    from ferenda_spark.operators.training import (bpe_encode_counts,
                                                  bpe_train)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (bpe_encode_counts(docs, bpe_train(docs, n_merges=12))
            .orderBy("doc_id"))


def _q_train_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling weights (Xie et al. 2023): hashed
    unigram bag-of-words models of the target (lang='en' slice) and
    raw corpus, each doc weighted by its mean token log-likelihood
    ratio.  O(n_buckets) model table broadcast into a map-side score;
    the training-data-selection counterpart of the reference's facet
    selection (SURVEY.md P15)."""
    from ferenda_spark.operators.training import dsir_weights
    return (dsir_weights(
        _read(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        target_lang="en", n_buckets=1024)
        .orderBy("doc_id"))


def _q_mm_image_meta(spark, sf_dir):
    from ferenda_spark.operators.multimodal import image_meta, with_blob
    return image_meta(with_blob(_read(spark, sf_dir, "documents")))


def _q_mm_image_meta_real(spark, sf_dir):
    """Real (not stub) image decode: JVM-synthesized minimal
    PNG/JPEG/GIF/BMP byte streams -> dependency-free header parse
    (PNG IHDR / JPEG SOF0 / GIF screen descriptor / BMP
    BITMAPINFOHEADER) in the Arrow batch pass.  Dims are closed-form
    in doc_id so the oracle recomputes them without touching bytes."""
    from ferenda_spark.operators.multimodal import (image_meta,
                                                    synth_image_blobs)
    return image_meta(synth_image_blobs(_read(spark, sf_dir, "documents")),
                      real=True)


def _q_mm_image_dhash(spark, sf_dir):
    """Perceptual difference-hash (dHash) over JVM-synthesized raw
    grayscale rasters: real byte-level kernel in the Arrow pass
    (magic + dims + row-major pixel parse, 56-bit pack); pixels are
    closed-form in doc_id so the oracle recomputes the hash without
    touching bytes."""
    from ferenda_spark.operators.multimodal import (image_dhash,
                                                    synth_gray_blobs)
    return (image_dhash(synth_gray_blobs(_read(spark, sf_dir,
                                               "documents")))
            .orderBy("doc_id"))


def _q_mm_image_dhash_pairs(spark, sf_dir):
    """Near-duplicate images by banded Hamming LSH over dHash
    (4 x 14-bit bands, verify bit_count(xor) <= 6): each (2k, 2k+1)
    doc pair is a planted near-dup at distance <= 2, below the
    bands-count pigeonhole bound, so recall is provably 1.0 — the
    image-side MinHash-banding analogue."""
    from ferenda_spark.operators.multimodal import (dhash_hamming_pairs,
                                                    image_dhash,
                                                    synth_gray_blobs)
    h = image_dhash(synth_gray_blobs(_read(spark, sf_dir, "documents")))
    return (dhash_hamming_pairs(h, bands=4, band_bits=14,
                                max_distance=6)
            .orderBy("doc_a", "doc_b"))


def _q_mm_audio_meta(spark, sf_dir):
    """Real WAV/RIFF audio metadata: JVM-synthesized 44-byte canonical
    headers -> chunk-walking fmt/data parse in the Arrow batch pass
    (streaming-friendly: the declared data size is used, payloads are
    never fetched).  Every field is closed-form in doc_id."""
    from ferenda_spark.operators.multimodal import (audio_meta,
                                                    synth_wav_blobs)
    return audio_meta(synth_wav_blobs(_read(spark, sf_dir, "documents")))


def _q_mm_frame_sample(spark, sf_dir):
    from ferenda_spark.operators.multimodal import sample_frames, with_blob
    return (sample_frames(with_blob(_read(spark, sf_dir, "documents")))
            .select("doc_id", "frame_idx", "frame_ts"))


def _q_keyword_terms(spark, sf_dir):
    """T10: term aggregation over dcterms:subject (keyword.py:105-222),
    sanitize = length bounds, sources = sorted distinct contexts."""
    from ferenda_spark import vocab
    t = _triples(spark, sf_dir)
    return (t.where(F.col("pred") == vocab.DCTERMS_SUBJECT)
            .where(F.length("obj").between(2, 100))
            .groupBy(F.col("obj").alias("term"))
            .agg(F.countDistinct("context").alias("n_docs"),
                 F.concat_ws(",", F.array_sort(F.collect_set("context")))
                 .alias("sources")))


def _q_triple_stats(spark, sf_dir):
    """A8: per-context triple & distinct-subject counts
    (w3c.py:67-82 stats / triple_count)."""
    return (_triples(spark, sf_dir)
            .groupBy("context")
            .agg(F.count("*").alias("n_triples"),
                 F.countDistinct("subj").alias("n_subjects")))


def _q_ispartof_closure(spark, sf_dir):
    from ferenda_spark.operators.graphs import ispartof_closure
    return ispartof_closure(_triples(spark, sf_dir))


def _q_citation_counts(spark, sf_dir):
    from ferenda_spark.operators.graphs import citation_counts
    return citation_counts(_triples(spark, sf_dir))


def _q_pagerank(spark, sf_dir):
    from ferenda_spark.operators.graphs import citation_pagerank
    from ferenda_spark.operators.triples import mention_triples
    # only dcterms:references triples feed the citation graph — feed
    # that branch alone instead of materializing the full triples union
    return citation_pagerank(mention_triples(_docs(spark, sf_dir)),
                             iterations=10)


def _q_hits(spark, sf_dir):
    """Graph analytics, second ranking: HITS hubs/authorities over the
    citation graph (graphanalyze.py:913 `hits(graph)[1]`) — networkx
    semantics, fixed 10 rounds, closed-form unrolled-CTE oracle."""
    from ferenda_spark.operators.graphs import citation_hits
    from ferenda_spark.operators.triples import mention_triples
    return citation_hits(mention_triples(_docs(spark, sf_dir)),
                         iterations=10)


def _q_search_year_range(spark, sf_dir):
    """Q4/Q5: year-F range filter with the reference's *exclusive*
    bounds (wsgiapp.py:566-597)."""
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.operators.search import compile_query
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, ranges={"dcterms_issued": ("year", 2021)},
                          boosts={}, page=0, page_size=2000,
                          id_col="uri", text_fields=())
            .select("uri", "dcterms_issued", "year"))


def _q_versioned_current(spark, sf_dir):
    """W2/S3: current-vs-archived resolution over a deterministic
    two-version subset (docs with doc_id%5==0 get a rev 2)."""
    from ferenda_spark.operators.store import current_versions
    d = _read(spark, sf_dir, "documents").select("doc_id")
    v1 = d.withColumn("rev", F.lit(1))
    v2 = (d.where(F.col("doc_id") % 5 == 0).withColumn("rev", F.lit(2)))
    versions = v1.unionByName(v2).withColumn(
        "updated", F.col("doc_id") * 10 + F.col("rev"))
    return current_versions(versions, "doc_id", "updated").select(
        "doc_id", "rev", "updated", "version_rank", "is_current")


def _q_next_archive_version(spark, sf_dir):
    """W4: next archive version id = count(existing) + 1."""
    from ferenda_spark.operators.store import next_archive_version
    d = _read(spark, sf_dir, "documents").select("doc_id")
    versions = d.unionByName(d.where(F.col("doc_id") % 5 == 0))
    return next_archive_version(versions, "doc_id")


def _q_patched_docs(spark, sf_dir):
    """P7: broadcast patch dimension applied before parse
    (patch_if_needed semantics)."""
    from ferenda_spark.operators.store import apply_patches
    d = _read(spark, sf_dir, "documents")
    patches = (d.where(F.col("doc_id") % 10 == 0)
               .select(F.col("doc_id").alias("pk"),
                       F.lit("the").alias("find"),
                       F.lit("THE").alias("replace")))
    out = apply_patches(d.withColumn("pk", F.col("doc_id")), patches,
                        key_col="pk", text_col="text")
    return out.select("doc_id", F.md5("text").alias("text_md5"), "patched")


def _q_coin_uris(spark, sf_dir):
    """T7: prioritized COIN templates — revision template binds only
    when same_as_id is present, else the canonical doc template."""
    from ferenda_spark.operators.coin import mint_uris, slug
    d = _docs(spark, sf_dir)
    base = "https://example.org/"
    templates = [
        ("rev", F.col("same_as_id").isNotNull()
         & F.col("identifier").isNotNull(),
         F.concat(F.lit(base + "res/rev/"), slug(F.col("identifier")),
                  F.lit("/"), F.col("same_as_id"))),
        ("doc", F.col("doc_id").isNotNull(),
         F.concat(F.lit(base + "res/doc/"), F.col("doc_id"))),
    ]
    return (mint_uris(d, templates)
            .select("url", "minted_uri", "template"))


def _q_toc_pages(spark, sf_dir):
    """A3: per-selector-value item lists ordered by title sortkey."""
    from ferenda_spark.operators.facets import faceted_data, toc_pages
    fd = faceted_data(_triples(spark, sf_dir))
    return toc_pages(fd, facet="year")


def _q_news_frontpage(spark, sf_dir):
    """W3: latest-5 entries per feed (frontpage_content /
    news_entries islice semantics)."""
    from pyspark.sql import Window
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("event_type", "rank", "event_id", "ts"))


def _q_search_fielded(spark, sf_dir):
    """Q2 equality + Q3 wildcard filters through the query compiler."""
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.operators.search import compile_query
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, filters={"dcterms_subject": "topic3"},
                          wildcard={"dcterms_identifier": "src1-*"},
                          boosts={}, page=0, page_size=2000,
                          id_col="uri", text_fields=())
            .select("uri", "dcterms_subject", "dcterms_identifier"))


def _q_search_snippets(spark, sf_dir):
    """Q9: substring snippet around the first match."""
    d = _read(spark, sf_dir, "documents")
    pos = F.locate("merge", F.lower(F.col("text")))
    return (d.where(pos > 0)
            .select("doc_id",
                    F.substring(F.col("text"),
                                F.greatest(pos - 20, F.lit(1)), 60)
                    .alias("snippet")))


def _q_sql_select(spark, sf_dir):
    """Q12: SPARQL select through the pattern compiler
    (ferenda_spark.sparql; devel.py:618-682 -> triplestore.select)."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?subj ?obj WHERE { ?subj dcterms:references ?obj . }""")


def _q_sparql_bgp(spark, sf_dir):
    """Q12 general BGP: 3-pattern join compiled to filtered scans +
    equi-joins on the shared ?doc variable."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc ?title ?publisher WHERE {
          ?doc a bibo:Document .
          ?doc dcterms:title ?title .
          ?doc dcterms:publisher ?publisher .
        }""")


def _q_sparql_optional(spark, sf_dir):
    """Q12 OPTIONAL: left-join semantics — docs without owl:sameAs
    keep a NULL ?same."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc ?same WHERE {
          ?doc a bibo:Document .
          OPTIONAL { ?doc owl:sameAs ?same }
        }""")


def _q_sparql_union(spark, sf_dir):
    """Q12 UNION: solutions of two disjoint branch patterns (bag
    semantics, unionByName-aligned columns)."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?s ?o WHERE {
          { ?s dcterms:identifier ?o . }
          UNION { ?s schema:mentions ?o . }
        }""")


def _q_sparql_construct(spark, sf_dir):
    """Q12 CONSTRUCT: template-emitted triples from WHERE bindings
    (triplestore.construct surface)."""
    from ferenda_spark.sparql import sparql_construct
    return sparql_construct(_triples(spark, sf_dir), """
        CONSTRUCT { ?s <https://example.org/vocab/cites> ?o }
        WHERE { ?s dcterms:references ?o . }""")


def _q_sparql_filter(spark, sf_dir):
    """Q12 FILTER: comparison + negated contains over section chapter
    labels."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?part ?sec WHERE {
          ?part bibo:chapter ?sec .
          FILTER(?sec >= "2" && !contains(?sec, "."))
        }""")


def _q_sparql_path(spark, sf_dir):
    """Q12 property path: the annotations.rq `dcterms:isPartOf*`
    closure through the compiler — var-var zero-or-more path
    (semi-naive transitive closure + identity) joined against the
    document-typed subjects."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?part ?doc WHERE {
          ?doc a bibo:Document .
          ?part dcterms:isPartOf* ?doc .
        }""")


def _q_sparql_agg(spark, sf_dir):
    """Q12 aggregates: GROUP BY + COUNT(*)/COUNT(DISTINCT) compiled to
    a single map-side-partial groupBy (triplestore.py:138-173 select
    passthrough + :653-666 COUNT probes)."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?p (COUNT(*) AS ?n) (COUNT(DISTINCT ?s) AS ?subjects)
        WHERE { ?s ?p ?o } GROUP BY ?p""")


def _q_sparql_having(spark, sf_dir):
    """Q12 HAVING: the group filter's aggregate compiles to a hidden
    column of the SAME single-shuffle groupBy().agg() (no second
    aggregation pass), then a plain post-aggregation filter.  Groups
    parts per container; only 3-section documents survive — a
    structural (scale-independent) discriminator."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc (COUNT(?part) AS ?n_parts) WHERE {
          ?part dcterms:isPartOf ?doc .
        } GROUP BY ?doc HAVING (COUNT(?part) > 2)""")


def _q_sparql_bind_values(spark, sf_dir):
    """Q12 BIND + VALUES + NOT IN + STRSTARTS(STR()): the constructs
    the reference's own shipped queries use (rfc-annotations.rq:24
    BIND, sfs_changes.rq:14 STRSTARTS/IN).  VALUES compiles to a
    broadcast inline-data join; BIND is a projection; the disjunctive
    filter stays JVM-side."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?ref ?subject ?title WHERE {
          VALUES ?subject { "topic1" "topic4" }
          ?doc dcterms:subject ?subject .
          ?doc dcterms:title ?title .
          BIND(str(?doc) as ?ref)
          FILTER(?subject NOT IN ("topic4")
                 || STRSTARTS(STR(?title), "Document 1"))
        }""")


def _q_sparql_annotations(spark, sf_dir):
    """Q12/J3: the reference's shipped annotation CONSTRUCT
    (res/sparql/annotations.rq via construct_annotations,
    documentrepository.py:2594-2611) run end-to-end through the SPARQL
    compiler for document 0 — `isPartOf*` BFS + UNION + template
    emission with unbound-var skipping."""
    from ferenda_spark.sparql import construct_annotations
    return construct_annotations(_triples(spark, sf_dir),
                                 "https://example.org/res/doc/0")


def _q_pdf_textbox_stats(spark, sf_dir):
    """S8 PDF branch driver query: a closed-form pdf2xml column (JVM
    concat, no UDF) through the pdf_textboxes map_rows stage
    (pdfpages.py — pdfreader._parse_xml semantics), then per-document
    layout stats.  Every 23rd document carries malformed XML and is
    quarantined by the stage (I4), so it is absent from the output."""
    from ferenda_spark.pdfpages import pdf_textboxes
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


def _q_warc_pages(spark, sf_dir):
    """WARC ingestion (ferenda_spark/warc.py): WARC/1.0 response
    records are synthesized JVM-side (one record per doc, 8 records
    concatenated per archive file — the Common-Crawl framing), parsed
    back through the real Arrow-batched record walker + HTTP splitter,
    and projected to the input-table shape.  Every header field is
    closed-form in doc_id so the oracle recomputes the parse output
    without touching bytes."""
    from ferenda_spark.warc import pages_from_warc, warc_records
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


def _q_word_docs(spark, sf_dir):
    """S8 Word branch driver query: deterministic docx blobs, real
    Word97 .doc binaries every 17th doc (native stdlib CFB +
    piece-table extraction, docbinary.py), and a truncated-OLE
    quarantine row every 34th, through the extract_word_blobs
    map_rows stage (reference wordreader.py:100-218)."""
    from ferenda_spark.wordreader import (extract_word_blobs,
                                          synth_docx_blobs)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    out = extract_word_blobs(synth_docx_blobs(d))
    return out.select("url", "filetype", "text", "error")


def _q_word_docs_legacy(spark, sf_dir):
    """S8 legacy .doc branch in isolation: EVERY row is a synthesized
    Word97 OLE2 binary, so the whole result flows through
    docbinary.cfb_streams (FAT/directory walk) + doc_text (FIB +
    piece-table decode) — the dedicated oracle row for the CFB
    reader (reference wordreader.py:73-100 shells to antiword;
    ours is a from-scratch [MS-CFB]/[MS-DOC] parser)."""
    from ferenda_spark.wordreader import (extract_word_blobs,
                                          synth_doc_blobs)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    out = extract_word_blobs(synth_doc_blobs(d))
    return out.select("url", "filetype", "text", "error")


def _q_pdf_extracted_lines(spark, sf_dir):
    """S8 PDF BINARY branch end-to-end: deterministic minimal PDFs per
    doc through the stdlib extraction kernel (pdftext — object parse,
    stream decode, content-stream text interpreter; goldens vs the
    reference's cached poppler intermediates in tests/test_pdftext.py)
    to positioned text lines."""
    from ferenda_spark.pdftext import pdf_blobs_to_lines, synth_pdf_blobs
    d = _read(spark, sf_dir, "documents").select("doc_id")
    out = pdf_blobs_to_lines(synth_pdf_blobs(d))
    return out.select("url", "page", "line", "top", "left", "width",
                      "height", "size", "font", "text")


def _q_pdf_section_triples(spark, sf_dir):
    """S8+P+T chained end-to-end for PDF sources (the reference's
    fixed-layout path: pdfreader -> pdfanalyze font segmentation ->
    structure -> triples): binary PDFs through the stdlib kernel,
    lines classified by rendered font size (36 = title, 27 = section
    heading at 1.5 zoom), section numbers by reading order, then
    title/isPartOf triples minted JVM-side."""
    from pyspark.sql import Window
    from ferenda_spark import vocab
    from ferenda_spark.pdftext import (pdf_blobs_to_lines,
                                       synth_pdf_section_blobs)
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


def _q_hot_domain_links_salted(spark, sf_dir):
    """X4 explicit skew path: per-domain-tier link counts where the
    fact->dim join runs SALTED (operators/skew.salted_join) — the
    corpus plants a hot domain holding ~30% of all links, the exact
    shape where a non-broadcastable dim join would pile one reducer."""
    from ferenda_spark.operators.skew import salted_join
    docs = _docs(spark, sf_dir)
    links = docs.select(F.explode("links").alias("href"))
    links = links.withColumn(
        "domain", F.regexp_extract("href", r"^(https?://[^/]+)", 1))
    dim = (links.select("domain").distinct()
           .withColumn("tier",
                       F.when(F.col("domain").contains("//hot."),
                              F.lit("hot")).otherwise(F.lit("cold"))))
    joined = salted_join(links, dim, "domain", n_salts=8)
    return joined.groupBy("tier").agg(F.count("*").alias("n_links"))


def _q_wiki_rendered(spark, sf_dir):
    """S8 wiki render branch: closed-form synthetic wikitext (italics,
    internal link, section heading, bold, category) through the
    wiki_render map_rows stage — markup -> XHTML body + section
    count + dcterms:subject names (wiki.py parse_document_from_soup +
    postprocess; fixture-level golden parity in
    tests/test_wikitext.py)."""
    from ferenda_spark.wikitext import wiki_render
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


def _q_fuzzy_entity_links(spark, sf_dir):
    """T9/J6 fuzzy path: deterministically typo'd mention labels ->
    best char-3-gram-Jaccard resource match (oracle-checked; the
    candidate-then-rescore shape of lookup_resource's difflib fallback,
    documentrepository.py:499-513)."""
    from ferenda_spark.operators.linking import (build_resources,
                                                 gram_jaccard_links)
    docs = _read(spark, sf_dir, "documents")
    mentions = docs.select(
        F.col("doc_id").alias("mention_id"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("Enttity "), F.col("doc_id") % 50))
        .otherwise(F.concat(F.lit("Entity "), F.col("doc_id") % 50))
        .alias("mention_label"))
    return gram_jaccard_links(mentions, build_resources(spark),
                              threshold=0.5)


def _q_fuzzy_links_lsh(spark, sf_dir):
    """J6 scale path: portable banded MinHash-LSH candidate generation
    over typo'd mention labels + exact gram-Jaccard rescore.  The
    md5-chain minhash recipe is mirrored bit-for-bit in the DuckDB
    oracle, so this is a hash-exact check (closing r1's rows-only gap);
    the pyspark.ml MinHashLSH variant remains in linking.fuzzy_links."""
    from ferenda_spark.operators.linking import (build_resources,
                                                 fuzzy_links_banded)
    docs = _read(spark, sf_dir, "documents")
    mentions = docs.select(
        F.col("doc_id").alias("mention_id"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("Enttity "), F.col("doc_id") % 50))
        .otherwise(F.concat(F.lit("Entity "), F.col("doc_id") % 50))
        .alias("mention_label"))
    return fuzzy_links_banded(mentions, build_resources(spark),
                              threshold=0.5)


def _q_link_validation(spark, sf_dir):
    """J8: map every outgoing link to its target page; flag dangling
    links (get_url_transform_func, documentrepository.py:2474-2564)."""
    docs = _docs(spark, sf_dir)
    links = docs.select("url", F.explode("links").alias("href"))
    targets = docs.select(F.col("url").alias("target_url")).distinct()
    return (links.join(targets, links["href"] == targets["target_url"],
                       "left")
            .select("url", "href",
                    F.col("target_url").isNotNull().alias("target_exists")))


def _q_search_boosted(spark, sf_dir):
    """Q8 boost scoring: per-field boosts (facet.py:449-470 — title 4,
    identifier 16) summed into a score over free-text term matches."""
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.operators.search import compile_query
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, q="7",
                          boosts={"dcterms_title": 4.0,
                                  "dcterms_identifier": 16.0},
                          page=0, page_size=5000, id_col="uri",
                          text_fields=("dcterms_title",
                                       "dcterms_identifier"))
            .select("uri", "dcterms_title", "dcterms_identifier",
                    "score"))


def _q_search_paginated(spark, sf_dir):
    """Q7 pagination: 0-based _page/_pageSize over the deterministic
    (score desc, uri asc) order (wsgiapp.py:654-665)."""
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.operators.search import compile_query
    fd = faceted_data(_triples(spark, sf_dir))
    return (compile_query(fd, page=2, page_size=10, id_col="uri",
                          text_fields=())
            .select("uri", "dcterms_identifier", "score"))


def _q_resource_validation(spark, sf_dir):
    """T3 sub-resource validation (render_xhtml_validate,
    documentrepository.py:1609-1625): per-doc resource count,
    duplicate-@about count, max_resources flag."""
    from ferenda_spark.operators.quality import resource_validation
    return resource_validation(_triples(spark, sf_dir), max_resources=5)


def _q_repo_status(spark, sf_dir):
    """A7 repo status/frontpage counters per document kind."""
    from ferenda_spark.operators.quality import repo_status
    return repo_status(_docs(spark, sf_dir))


def _q_deps_edges(spark, sf_dir):
    """J2 dependency resolution: external object URIs matched against
    the repo URI-pattern dimension (relate_dependencies semantics:
    skip rdf:type/owl:sameAs, skip intra-doc subjects)."""
    from ferenda_spark.operators.graphs import deps_edges
    patterns = spark.createDataFrame(
        [("https://example.org/res/rfc/", "rfc"),
         ("https://example.org/res/entity/", "entity"),
         ("https://example.org/res/org/", "org"),
         ("https://example.org/res/doc/", "doc")],
        "prefix string, repo string")
    return deps_edges(_triples(spark, sf_dir), patterns)


def _q_incremental_pending(spark, sf_dir):
    """O7/I1/S2 resumable-work selection: fingerprint anti-join against
    simulated committed (url, input_fingerprint) pairs — docs never
    processed (id%5==2) or whose recorded fingerprint is stale
    (id%13==3) come back as pending; everything else is skipped."""
    from ferenda_spark.corpus import load_pages
    from ferenda_spark.operators.incremental import fingerprinted
    pages = fingerprinted(load_pages(spark, sf_dir))
    doc_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    done = (pages.where(doc_id % 5 != 2)
            .select("url",
                    F.when(doc_id % 13 == 3, F.lit("stale"))
                    .otherwise(F.col("input_fingerprint"))
                    .alias("input_fingerprint")))
    return (pages.join(done, ["url", "input_fingerprint"], "left_anti")
            .select("url", doc_id.alias("doc_id")))


def _q_stats_cube(spark, sf_dir):
    """A5 grouping-sets variant: one cube() pass over (publisher,
    year) instead of one scan per dimension."""
    from ferenda_spark.operators.facets import faceted_data, stats_cube
    return stats_cube(faceted_data(_triples(spark, sf_dir)))


def _q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by banded sign-LSH
    (16 bits x 4 bands: 65k buckets per band — scale-proof occupancy —
    with the OR over bands recovering recall)."""
    from ferenda_spark.operators.similarity import embedding_near_dupes
    return embedding_near_dupes(_read(spark, sf_dir, "embeddings"),
                                threshold=0.35,
                                bits_per_band=16, n_bands=4)


def _q_canonical_triples(spark, sf_dir):
    """T11 end-to-end: the full KG with every subject/object rewritten
    through the owl:sameAs connected-components mapping and the
    now-degenerate sameAs self-loops dropped — the final materialized
    triples table of the north-rule pipeline."""
    from ferenda_spark.pipeline import canonical_triples
    return canonical_triples(spark, _docs(spark, sf_dir),
                             mapping=_canonical_mapping(spark, sf_dir))


def _q_legal_mentions(spark, sf_dir):
    """T8 through Spark: closed-form planted legal references (one
    statute + one case-law + one preparatory-works citation per
    document, all numbers fixed-width functions of doc_id so anchors
    sit at constant offsets) through the legal_mentions Arrow stage —
    hash-exact vs the DuckDB oracle.  The reference's own fixture
    texts stay golden-asserted in tests/test_legalref_goldens.py."""
    from ferenda_spark.operators.extract import legal_mentions
    return legal_mentions(_legal_docs(spark, sf_dir))


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


def _q_annotations(spark, sf_dir):
    """J3 complete: per-doc annotation record (parts closure +
    part-emitted references) that generate() consumes."""
    from ferenda_spark.operators.graphs import annotations
    return annotations(_triples(spark, sf_dir))


def _q_snapshot_incremental(spark, sf_dir):
    """S6/I5 through the snapshot layer (snaptable.py): commit the doc
    triples of batch-1 documents (doc_id % 3 != 0) as snapshot 1,
    append batch 2 (doc_id % 3 == 0) as snapshot 2, then
    incremental-scan the (snap1, snap2] delta and aggregate per
    predicate — the downstream-consumes-only-the-delta contract of the
    north rule's checkpointed DAG, exercised end-to-end through real
    atomic commits.  The aggregate is localCheckpoint-ed so the
    scratch table can be deleted before the frame is consumed."""
    import os
    import shutil
    import tempfile

    from ferenda_spark.operators.triples import doc_triples
    from ferenda_spark.snaptable import SnapshotTable

    # materialize the extraction DAG ONCE: both commits (create +
    # append) consume the checkpointed frame instead of re-running
    # doc_triples per commit — the r4 bench regression's other half
    t = doc_triples(_docs(spark, sf_dir)).localCheckpoint()
    doc_id = F.regexp_extract("subj", r"/(\d+)$", 1).cast("long")
    d = tempfile.mkdtemp(prefix="ferenda_snap_query_")
    try:
        tab = SnapshotTable(os.path.join(d, "triples"))
        s1 = tab.create(t.where(doc_id % 3 != 0), stats_cols=("subj",))
        s2 = tab.append(t.where(doc_id % 3 == 0))
        inc = tab.incremental(spark, s1["snapshot_id"],
                              s2["snapshot_id"])
        return (inc.groupBy("pred")
                .agg(F.count(F.lit(1)).alias("n_triples"))
                .orderBy("pred")
                .localCheckpoint())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_url_canonical(spark, sf_dir):
    """Web-corpus URL canonicalization (cleaning.canonical_url): messy
    URLs planted in closed form — uppercase www authority, default
    port, duplicate/trailing slashes, tracking params, fragments — are
    normalized and aggregated per (canonical_url, host).  The oracle
    states the expected canonical form directly from doc_id, so every
    rule of the canonicalizer is pinned end-to-end."""
    from ferenda_spark.operators.cleaning import canonical_url, host_of
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


def _q_rdfs_entailed(spark, sf_dir):
    """RDFS forward chaining (graphs.rdfs_entailment) over the full KG
    with a planted ontology: a subclass chain (bibo:Document ⊑
    foaf:Document ⊑ owl:Thing), a sub-property chain (schema:mentions
    ⊑ dcterms:references ⊑ dcterms:relation), a range
    (schema:mentions → ex:Entity) and a domain that only re-derives
    asserted types (dcterms:isPartOf → bibo:DocumentPart — exercises
    the dedup/anti-join path).  Returns the inferred-only delta
    aggregated per predicate; inference is per named graph, so a
    class membership derived in many documents counts once per
    context (provenance preserved)."""
    from ferenda_spark.operators.graphs import (RDFS_DOMAIN,
                                                RDFS_RANGE,
                                                RDFS_SUBCLASSOF,
                                                RDFS_SUBPROPERTYOF,
                                                rdfs_entailment)
    from ferenda_spark import vocab
    FOAF_DOC = "http://xmlns.com/foaf/0.1/Document"
    OWL_THING = "http://www.w3.org/2002/07/owl#Thing"
    ENTITY = "https://example.org/def/Entity"
    onto = spark.createDataFrame([
        (vocab.BIBO_DOCUMENT, RDFS_SUBCLASSOF, FOAF_DOC),
        (FOAF_DOC, RDFS_SUBCLASSOF, OWL_THING),
        (vocab.BIBO_DOCUMENTPART, RDFS_SUBCLASSOF, OWL_THING),
        (vocab.SCHEMA_MENTIONS, RDFS_SUBPROPERTYOF,
         vocab.DCTERMS_REFERENCES),
        (vocab.DCTERMS_REFERENCES, RDFS_SUBPROPERTYOF,
         vocab.DCTERMS + "relation"),
        (vocab.SCHEMA_MENTIONS, RDFS_RANGE, ENTITY),
        (vocab.DCTERMS_ISPARTOF, RDFS_DOMAIN, vocab.BIBO_DOCUMENTPART),
    ], "subj string, pred string, obj string")
    inferred = rdfs_entailment(_triples(spark, sf_dir), onto,
                               inferred_only=True)
    return (inferred.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_triples"),
                 F.countDistinct("subj").alias("n_subjects"))
            .orderBy("pred"))


def _q_sparql_update(spark, sf_dir):
    """Q12 update passthrough: a chained UPDATE request (DELETE/INSERT
    predicate rename + INSERT DATA) applied to the doc-triples graph,
    verified by the per-predicate profile of the updated graph.  The
    whole rewrite is two anti-joins and a union — no whole-graph
    distinct."""
    from ferenda_spark.operators.triples import doc_triples
    from ferenda_spark.sparql import sparql_update
    t = doc_triples(_docs(spark, sf_dir))
    g = sparql_update(t, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        DELETE { ?d dcterms:subject ?s }
        INSERT { ?d <https://example.org/def/theme> ?s }
        WHERE { ?d dcterms:subject ?s } ;
        INSERT DATA {
          <https://example.org/res/org/pub0> a <http://xmlns.com/foaf/0.1/Organization>
        }""")
    return (g.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("pred"))


def _q_sparql_describe(spark, sf_dir):
    """Q12 DESCRIBE: concise bounded descriptions of every publisher
    resource mentioned with dcterms:publisher — variable form with a
    WHERE group, one broadcast semi-join (sparql.sparql_describe)."""
    from ferenda_spark.operators.triples import doc_triples
    from ferenda_spark.sparql import sparql_describe
    t = doc_triples(_docs(spark, sf_dir))
    # describe the DOCUMENTS of publisher pub0 (bounded description =
    # their outgoing triples), aggregated per predicate
    d = sparql_describe(t, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        DESCRIBE ?d WHERE {
          ?d dcterms:publisher <https://example.org/res/org/pub0>
        }""")
    return (d.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("pred"))


def _q_sparql_subquery(spark, sf_dir):
    """Q12 subquery: per-document outgoing-edge counts computed in an
    inner SELECT, joined to the outer title binding — the SPARQL
    shape of a correlated rollup, compiled to one groupBy + one
    natural join."""
    from ferenda_spark.operators.triples import doc_triples
    from ferenda_spark.sparql import sparql_select
    t = doc_triples(_docs(spark, sf_dir))
    return sparql_select(t, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        SELECT ?title ?n WHERE {
          ?d dcterms:title ?title .
          { SELECT ?d (COUNT(?o) AS ?n) WHERE {
              ?d !(rdf:type) ?o . } GROUP BY ?d }
        } ORDER BY ?title""")


def _q_sparql_graph_var(spark, sf_dir):
    """Q12 GRAPH ?var with a property path AND a subquery inside the
    variable-graph scope (SPARQL 1.1 §13.3): per named graph (context
    = source url, one graph per document), the isPartOf+ closure to
    the graph's typed document counts its parts, while an inner
    SELECT counts the graph's raw isPartOf edges — the path fixpoint
    is keyed by graph id so closures never cross graph boundaries,
    and the subquery aggregates with the graph id as an implicit
    grouping key."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?g (COUNT(?part) AS ?n_parts) (MIN(?m) AS ?n_edges)
        WHERE {
          GRAPH ?g { ?doc a bibo:Document .
                     ?part dcterms:isPartOf+ ?doc }
          GRAPH ?g { SELECT (COUNT(?o) AS ?m) WHERE {
                       ?s dcterms:isPartOf ?o } }
        } GROUP BY ?g ORDER BY ?g""")


def _q_sparql_builtins(spark, sf_dir):
    """Q12 SPARQL 1.1 §17.4 expression builtins (r4): GROUP_CONCAT
    with SEPARATOR + DISTINCT (values sorted — deterministic where the
    spec leaves order open), UCASE/STRBEFORE/REPLACE/STRLEN string
    kernels, arithmetic with xsd:double promotion, IF/BOUND
    conditionals, and a STRENDS/SUBSTR filter — every one a pure JVM
    Column expression (no Python), folded into ONE map-side-partial
    groupBy shuffle."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?subject ?linkcls (COUNT(?d) AS ?n_docs)
               (GROUP_CONCAT(DISTINCT ?src; SEPARATOR="|") AS ?sources)
               (MAX(?ymd) AS ?max_ymd) (MIN(?halflen) AS ?min_halflen)
        WHERE {
          ?d a bibo:Document .
          ?d dcterms:identifier ?ident .
          ?d dcterms:subject ?subject .
          ?d dcterms:issued ?issued .
          OPTIONAL { ?d owl:sameAs ?same }
          BIND(UCASE(STRBEFORE(?ident, "-")) AS ?src)
          BIND(REPLACE(?issued, "-", "") AS ?ymd)
          BIND(IF(BOUND(?same), "linked", "orphan") AS ?linkcls)
          BIND((STRLEN(?ident) + 1) / 2 AS ?halflen)
          FILTER(STRENDS(?ymd, SUBSTR(?ymd, 5))
                 && STRLEN(?ident) * 2 - 2 >= 12)
        } GROUP BY ?subject ?linkcls ORDER BY ?subject ?linkcls""")


def _q_sparql_agg_expr(spark, sf_dir):
    """Q12 aggregates over EXPRESSIONS (SPARQL 1.1 §18.5.1 allows any
    expression as the aggregate argument): SUM(?ch * 2 + 1) and
    AVG(STRLEN(?t)) compile to column expressions inside the same
    single-shuffle groupBy — no pre-BIND needed.  Sums stay exact
    (small integers in doubles), so no rounding is required for
    cross-engine parity."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc (SUM(?ch * 2 + 1) AS ?w)
               (AVG(STRLEN(?t)) AS ?alen)
        WHERE {
          ?doc a bibo:Document .
          ?part dcterms:isPartOf ?doc .
          ?part bibo:chapter ?ch .
          ?part dcterms:title ?t .
        } GROUP BY ?doc ORDER BY ?doc""")


def _q_sparql_hashes(spark, sf_dir):
    """Q12 SPARQL 1.1 hash builtins (r4): MD5/SHA256 skolem-IRI
    minting — the standard SPARQL idiom for deterministic node ids in
    KG construction — grouped by the leading SHA256 nibble.  Hashes
    are JVM-side codegen (F.md5/F.sha2); one groupBy shuffle."""
    from ferenda_spark.sparql import sparql_select
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?nib (COUNT(?d) AS ?n) (MIN(?skolem) AS ?first_skolem)
        WHERE {
          ?d dcterms:identifier ?ident .
          BIND(CONCAT("urn:skolem:", MD5(?ident)) AS ?skolem)
          BIND(SUBSTR(SHA256(?ident), 1, 1) AS ?nib)
        } GROUP BY ?nib ORDER BY ?nib""")


def _q_kg_kcore(spark, sf_dir):
    """2-core membership by iterative peeling over a planted
    closed-form graph: per 20-doc block, a triangle (the core), a
    3-edge pendant chain hanging off it (peels in exactly 3 rounds —
    exercises the fixpoint, bounded for every sf), and an isolated
    edge (peels in round 1).  The oracle unrolls 4 peel rounds, which
    is provably convergent for this structure."""
    from ferenda_spark.operators.graphs import kcore
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(0, 2))
             .unionByName(_e(2, 3)).unionByName(_e(3, 4))
             .unionByName(_e(4, 5)).unionByName(_e(6, 7)))
    return kcore(edges, k=2).orderBy("node")


def _q_kg_jaccard_links(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the citation graph —
    the set-overlap companion to Adamic-Adar; same hub cut (64) and
    wedge shape, true degrees in the denominator; top 200 by
    (jaccard, pair)."""
    from ferenda_spark.operators.graphs import jaccard_neighbors
    from ferenda_spark.operators.triples import mention_triples
    edges = mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("doc_a"), F.col("obj").alias("doc_b"))
    return (jaccard_neighbors(edges, max_degree=64)
            .orderBy(F.col("jaccard").desc(), "node_a", "node_b")
            .limit(200))


def _q_kg_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the citation graph: one
    scalar from exact decimal sums over edge-end degree pairs — two
    node-keyed degree joins and a 1-row aggregate."""
    from ferenda_spark.operators.graphs import degree_assortativity
    from ferenda_spark.operators.triples import mention_triples
    edges = mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("doc_a"), F.col("obj").alias("doc_b"))
    return degree_assortativity(edges)


def _q_dup_triangles(spark, sf_dir):
    """Degree-oriented distributed triangle counting over the
    MinHash-LSH duplicate-pair graph (near-dup cluster density — a
    triangle-rich node sits in a tight dup cluster, a triangle-free
    one in a chain of borderline matches).  Orientation bounds wedge
    fan-out at O(sqrt(|E|)) per node, so hub documents cannot explode
    the self-join at 10^12-edge scale."""
    from ferenda_spark.operators.dedup import minhash_band_pairs
    from ferenda_spark.operators.graphs import triangle_counts
    pairs = minhash_band_pairs(_read(spark, sf_dir, "documents"),
                               n=3, num_hashes=8, band_size=2)
    return (triangle_counts(pairs)
            .select(F.col("node").alias("doc_id"), "n_triangles")
            .orderBy("doc_id"))


def _q_link_prediction(spark, sf_dir):
    """Adamic-Adar missing-link prediction over the citation graph
    (doc url -> cited target, undirected): non-adjacent pairs scored
    by sum 1/ln(deg) over common neighbours — co-citation pairs the
    extractor never linked directly, the predictive companion to the
    descriptive pagerank/HITS suite.  Degree-capped at 64 (the hub
    cut that bounds wedge fan-out at 10^12-edge scale, mirrored in
    the oracle); top 200 by (score, pair) — a global TakeOrdered,
    never a full sort."""
    from ferenda_spark.operators.graphs import adamic_adar
    from ferenda_spark.operators.triples import mention_triples
    edges = mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("doc_a"), F.col("obj").alias("doc_b"))
    return (adamic_adar(edges, max_degree=64)
            .orderBy(F.col("aa_score").desc(), "node_a", "node_b")
            .limit(200))


def _citation_edges(spark, sf_dir):
    """Directed citation edges (citing doc url -> cited target) from
    the extracted reference triples — shared input of the citation-
    similarity pair (co-citation / bibliographic coupling)."""
    from ferenda_spark.operators.triples import mention_triples
    return mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("src"), F.col("obj").alias("dst"))


def _q_cocitation(spark, sf_dir):
    """Co-citation strength (Small 1973) over the citation graph:
    targets cited TOGETHER by the same documents, Salton-cosine
    normalized by true in-degree — merge/related candidates in KG
    construction, the descriptive dual of kg_link_prediction's
    Adamic-Adar.  Hub cut at out-degree 64 (mirrored in the oracle)
    bounds the wedge self-join; top 200 by (salton, pair) is a
    TakeOrdered, never a full sort."""
    from ferenda_spark.operators.graphs import cocitation
    return (cocitation(_citation_edges(spark, sf_dir),
                       max_fanout=64, min_common=1)
            .orderBy(F.col("salton").desc(), "node_a", "node_b")
            .limit(200))


def _q_biblio_coupling(spark, sf_dir):
    """Bibliographic coupling (Kessler 1963): documents sharing
    references, Salton-normalized by true out-degree — the forward
    dual of kg_cocitation (fixed at publication time).  Hub cut drops
    references cited by > 64 docs (the idf rationale: a spec everyone
    cites discriminates nothing)."""
    from ferenda_spark.operators.graphs import biblio_coupling
    return (biblio_coupling(_citation_edges(spark, sf_dir),
                            max_fanout=64, min_common=1)
            .orderBy(F.col("salton").desc(), "node_a", "node_b")
            .limit(200))


def _q_dup_clustering(spark, sf_dir):
    """Local clustering coefficient over the MinHash dup-pair graph
    (2*tri/(d*(d-1))): cluster tightness per document — 1.0 = clique
    member, ~0 = chain/star of borderline matches."""
    from ferenda_spark.operators.dedup import minhash_band_pairs
    from ferenda_spark.operators.graphs import clustering_coefficients
    pairs = minhash_band_pairs(_read(spark, sf_dir, "documents"),
                               n=3, num_hashes=8, band_size=2)
    return (clustering_coefficients(pairs)
            .select(F.col("node").alias("doc_id"),
                    F.col("degree"), "n_triangles", "clustering")
            .orderBy("doc_id"))


def _q_dedup_embedding_clusters(spark, sf_dir):
    """Embedding near-dup pipeline completion: cosine pairs ->
    transitive clusters with the min-id canonical representative
    (same hash-min CC fixpoint as the sameAs canonicalization)."""
    from ferenda_spark.operators.dedup import dup_clusters
    from ferenda_spark.operators.similarity import embedding_near_dupes
    pairs = embedding_near_dupes(_read(spark, sf_dir, "embeddings"),
                                 threshold=0.35,
                                 bits_per_band=16, n_bands=4)
    return (dup_clusters(pairs, id_a="vec_a", id_b="vec_b")
            .select(F.col("doc_id").alias("vec_id"),
                    F.col("canonical_doc_id").alias("canonical_vec_id"))
            .orderBy("vec_id"))


def _q_degree_distribution(spark, sf_dir):
    """Citegraph degree distribution (graphanalyze.py:537-576 minus
    the matplotlib rendering): how many cited targets have each
    citing-document count — two hash aggregates over the references
    edge set."""
    from ferenda_spark.operators.graphs import degree_distribution
    return (degree_distribution(_triples(spark, sf_dir))
            .orderBy("in_degree"))


def _q_ranking_ap(spark, sf_dir):
    """Ranking evaluation with the reference's AP semantics
    (eval_calc_aps, graphanalyze.py:760-806): per-publisher rankings
    of that publisher's documents (by doc_id) scored against a planted
    gold standard (doc_id % 3 == 0) — per-query average precision, the
    building block of its MAP study."""
    from pyspark.sql import Window

    from ferenda_spark.operators.graphs import average_precision
    d = (_read(spark, sf_dir, "documents")
         .select("doc_id",
                 F.concat(F.lit("pub"), (F.col("doc_id") % 7)
                          .cast("string")).alias("query"),
                 F.col("doc_id").cast("string").alias("item")))
    ranked = d.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("query").orderBy("doc_id")))
    gold = d.where(F.col("doc_id") % 3 == 0).select("query", "item")
    return (average_precision(ranked.select("query", "item", "rank"),
                              gold)
            .select("query", F.round("ap", 6).alias("ap"))
            .orderBy("query"))


def _q_ranking_ndcg(spark, sf_dir):
    """Binary-relevance nDCG over the same planted per-publisher
    rankings and gold standard as kg_ranking_ap — the position-
    discounted counterpart of the reference's AP study."""
    from pyspark.sql import Window

    from ferenda_spark.operators.graphs import ndcg
    d = (_read(spark, sf_dir, "documents")
         .select("doc_id",
                 F.concat(F.lit("pub"), (F.col("doc_id") % 7)
                          .cast("string")).alias("query"),
                 F.col("doc_id").cast("string").alias("item")))
    ranked = d.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("query").orderBy("doc_id")))
    gold = d.where(F.col("doc_id") % 3 == 0).select("query", "item")
    return (ndcg(ranked.select("query", "item", "rank"), gold)
            .orderBy("query"))


def _q_events_funnel(spark, sf_dir):
    """Strict-sequence conversion funnel view -> click -> purchase:
    step k counts users whose earliest step-k event is strictly after
    their earliest step-(k-1) arrival; k user-keyed groupBys +
    equi-joins, no window over the raw stream."""
    from ferenda_spark.operators.events import funnel
    return funnel(_read(spark, sf_dir, "events"),
                  ["view", "click", "purchase"])


def _q_events_retention(spark, sf_dir):
    """Day-grain cohort retention triangle (cohort = first active
    day); all hash aggregations keyed on user then (cohort, offset)."""
    from ferenda_spark.operators.events import retention_cohorts
    return (retention_cohorts(_read(spark, sf_dir, "events"))
            .orderBy("cohort_day", "day_offset"))


def _q_events_anomalies(spark, sf_dir):
    """Daily event-volume z-scores from exact integer sums (count,
    sum, sum-of-squares broadcast as one row); |z| > 2 flags."""
    from ferenda_spark.operators.events import daily_anomalies
    return (daily_anomalies(_read(spark, sf_dir, "events"))
            .orderBy("day"))


def _q_text_readability(spark, sf_dir):
    """Flesch reading ease with the vowel-group syllable proxy over
    the c4-style synthesized sentence structure (the raw corpus is
    unpunctuated word soup, so sentences are planted via the
    ' the '/' value ' split mirrored in the oracle)."""
    from ferenda_spark.operators.textstats import readability
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.regexp_replace("text", " (the|value) ", ".\n"),
                 F.lit(".")).alias("text"))
    return readability(docs).orderBy("doc_id")


def _q_train_source_temperature(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) source sampling rates over the
    corpus source column: q_s = sqrt(p_s)/sum sqrt(p_t), boost =
    q_s/p_s; the multilingual-mixture rule, dimension-sized."""
    from ferenda_spark.operators.training import source_temperature
    return (source_temperature(_read(spark, sf_dir, "documents"))
            .orderBy("source"))


_RANKING_NEEDS = [("need0", "spark"), ("need0", "merge"),
                  ("need1", "window"), ("need1", "sort"),
                  ("need2", "hash"), ("need2", "batch"),
                  ("need3", "scan"), ("need3", "value")]


def _q_ranking_baseline(spark, sf_dir):
    """graphanalyze eval_get_ranked_set_baseline (:926-977): per
    information need, OR-of-keyterms candidate search over document
    text ranked by summed term frequency — the search-scored baseline
    the reference's AP/MAP evaluation compares graph rankings
    against.  Completes the evaluate() surface next to
    kg_pagerank/kg_hits/kg_ranking_ap."""
    from ferenda_spark.operators.search import ranked_set_baseline
    needs = spark.createDataFrame(_RANKING_NEEDS, "query string, term string")
    return ranked_set_baseline(_read(spark, sf_dir, "documents"), needs)


# --- round-4 continuation: knowledge fusion / crawl graph / ER ------


def _claims(spark, sf_dir):
    """Conflicting entity-label claims planted on the documents table:
    every doc asserts a label for its entity (doc_id % 50); docs with
    doc_id % 3 == 0 assert the WRONG label ((e+1) % 7 instead of
    e % 7), so 20 sources vote with planted disagreement."""
    d = _read(spark, sf_dir, "documents")
    e = F.col("doc_id") % 50
    return d.select(
        F.concat(F.lit("https://example.org/res/entity/"), e)
        .alias("subject"),
        F.lit("rdfs:label").alias("predicate"),
        F.concat(F.lit("Label "),
                 F.when(F.col("doc_id") % 3 == 0, (e + 1) % 7)
                 .otherwise(e % 7)).alias("object"),
        F.col("source"))


def _source_weights(spark):
    """Trust dimension: weight 1 + (source ordinal % 3)."""
    return spark.range(20).select(
        F.concat(F.lit("src"), "id").alias("source"),
        (1 + F.col("id") % 3).cast("long").alias("weight"))


def _q_fact_fusion(spark, sf_dir):
    """Knowledge fusion (Dong et al. 2014): trust-weighted source
    voting per (subject, predicate) with deterministic tie-breaks —
    the conflict-resolution stage of web-scale KG construction.
    Broadcast trust dim + one groupBy + one window."""
    from ferenda_spark.operators.fusion import fact_fusion
    return (fact_fusion(_claims(spark, sf_dir), _source_weights(spark))
            .orderBy("subject"))


def _q_source_accuracy(spark, sf_dir):
    """TruthFinder/ACCU EM half-step: re-score each source by
    agreement with the fused values, exact-integer ppm so the score
    is engine-portable."""
    from ferenda_spark.operators.fusion import fact_fusion, source_accuracy
    claims = _claims(spark, sf_dir)
    fused = fact_fusion(claims, _source_weights(spark))
    return source_accuracy(claims, fused).orderBy("source")


def _q_redirect_resolution(spark, sf_dir):
    """Redirect-chain collapse by pointer doubling (O(log L) shuffles
    — the crawl-scale sameAs signal).  Planted chains: docs with
    doc_id % 10 in {1,2,3} redirect to doc_id + 1, so chains of
    length 3/2/1 end at the % 10 == 4 terminal."""
    from ferenda_spark.operators.crawl import resolve_redirects

    def _url(d):
        return F.concat(
            F.when(d % 10 < 3, F.lit("https://hot.example.org/"))
            .otherwise(F.lit("https://example.org/")),
            F.lit("docs/src"), d % 20, F.lit("/"), d)
    redirects = (_read(spark, sf_dir, "documents")
                 .where((F.col("doc_id") % 10 >= 1)
                        & (F.col("doc_id") % 10 <= 3))
                 .select(_url(F.col("doc_id")).alias("src_url"),
                         _url(F.col("doc_id") + 1).alias("dst_url")))
    return (resolve_redirects(redirects, max_doubling=4)
            .orderBy("src_url"))


_ROBOTS_RULES = [
    ("example.org", "/docs/src1", False),      # src13..src19 prefix
    ("example.org", "/docs/src15", True),      # longest match wins
    ("example.org", "/docs/src4/", False),
    ("example.org", "/docs/src7/", False),     # exact-length tie:
    ("example.org", "/docs/src7/", True),      # allow wins (RFC 9309)
    ("hot.example.org", "/docs/", False),
    ("hot.example.org", "/docs/src12", True),
]


def _q_robots_rules(spark, sf_dir):
    """RFC 9309 robots.txt longest-match over the corpus URL table:
    broadcast rule dim, prefix filter, one per-URL window; no-match
    URLs allowed by default.  Exercises prefix-length precedence AND
    the allow-wins-ties rule (two planted src7 rules)."""
    from ferenda_spark.operators.crawl import robots_allowed
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string, allow boolean")
    urls = _docs(spark, sf_dir).select("url")
    return robots_allowed(urls, rules).orderBy("url")


def _q_anchor_text(spark, sf_dir):
    """Inbound anchor-text profile per target document — the web-KG
    relevance signal (anchor text describes the target).  The Spark
    side WALKS THE REAL DOM (Arrow-batched, same pruning as the
    extract stage); the oracle recomputes the planted nav anchors
    ('next' -> d+1, 'related' -> d+2) closed-form."""
    from ferenda_spark.corpus import load_pages
    from ferenda_spark.operators.crawl import anchor_links, \
        anchor_text_profile
    links = anchor_links(load_pages(spark, sf_dir)).withColumn(
        "target",
        F.regexp_extract("href", r"/(\d+)$", 1).cast("long"))
    return anchor_text_profile(links, "target").orderBy("target")


def _q_valid_intervals(spark, sf_dir):
    """Temporal-KG validity coalescing: per-entity overlapping
    validity spans (planted: start = issued-day offset, length
    30..110 days as integers) merged by the gaps-and-islands window
    program."""
    from ferenda_spark.operators.temporal import coalesce_intervals
    d = _read(spark, sf_dir, "documents")
    iv = d.select(
        (F.col("doc_id") % 50).cast("long").alias("entity"),
        ((F.col("doc_id") * 37) % 1461).cast("long").alias("valid_from"),
        ((F.col("doc_id") * 37) % 1461 + 30
         + (F.col("doc_id") % 5) * 20).cast("long").alias("valid_to"))
    return (coalesce_intervals(iv, "entity")
            .orderBy("entity", "valid_from"))


def _q_bfs_distances(spark, sf_dir):
    """Multi-source BFS over the citation graph (edges d -> d+1 and
    d -> d+2, seeds every 100th doc, 3 hops): layer-synchronous
    frontier joins with per-round lineage cuts; min-distance is
    implicit in BFS layering.  Oracle: dist(n) = min over seeds s of
    ceil((n-s)/2) for 0 <= n-s <= 6, closed-form."""
    from ferenda_spark.operators.graphs import bfs_distances
    d = _read(spark, sf_dir, "documents")
    e1 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 1).alias("doc_b"))
    e2 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 2).alias("doc_b"))
    seeds = (d.where(F.col("doc_id") % 100 == 0)
             .select(F.col("doc_id").alias("node")))
    return (bfs_distances(e1.unionByName(e2), seeds, max_hops=3)
            .orderBy("node"))


def _q_sorted_neighborhood(spark, sf_dir):
    """Multi-pass sorted-neighborhood ER blocking (Hernandez &
    Stolfo): pass 1 sorts on a normalized text prefix, pass 2 on
    (lang, zero-padded length) — block-partitioned rank windows, so
    no global sort; candidate pairing is an equi-join on
    (block, rank + j)."""
    from ferenda_spark.operators.linking import sorted_neighborhood_pairs
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


def _q_kg_negatives(spark, sf_dir):
    """TransE-style filtered negative sampling over the doc->entity
    mention edges: k=3 corrupted tails per positive by portable LCG
    (pure int64 — bit-identical across engines and resumes),
    false negatives removed by pair anti-join."""
    from ferenda_spark.operators.training import kg_negative_samples
    pos = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("example_id"),
        (F.col("doc_id") % 50).alias("pos_entity"))
    return (kg_negative_samples(pos, n_entities=50, k=3)
            .orderBy("example_id", "sample_idx"))


def _q_pmi_bigrams(spark, sf_dir):
    """Collocation mining: adjacent-token bigrams ranked by PMI over
    the bigram event space, scored as an exact-integer ppm ratio
    (monotone in PMI) so the ranking never touches float log()."""
    from ferenda_spark.operators.textstats import pmi_bigrams
    return pmi_bigrams(_read(spark, sf_dir, "documents"),
                       min_count=3, top_n=100)


def _q_crawl_sitemap(spark, sf_dir):
    """Sitemap-protocol ingestion: per-host/per-100-doc sitemap XML
    files are synthesized JVM-side (collect_list + concat — the
    deterministic fake, like the WARC/mm blob synthesizers) and then
    parsed back by the REAL namespace-agnostic ElementTree kernel in
    crawl.sitemap_entries; the oracle recomputes the entries
    closed-form, so any parse defect breaks the hash."""
    from ferenda_spark.operators.crawl import sitemap_entries
    d = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 10 < 3,
               F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"), F.col("doc_id"))
    issued = F.date_format(
        F.expr("date_add(DATE'2020-01-01', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    entry = F.concat(F.lit("<url><loc>"), url, F.lit("</loc><lastmod>"),
                     issued, F.lit("</lastmod><priority>0."),
                     F.col("doc_id") % 10, F.lit("</priority></url>"))
    xml = (d.groupBy((F.col("doc_id") % 10 < 3).alias("hot"),
                     F.expr("doc_id div 100").alias("chunk"))
           .agg(F.concat(
               F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset '
                     'xmlns="http://www.sitemaps.org/schemas/'
                     'sitemap/0.9">'),
               F.concat_ws("", F.sort_array(F.collect_list(entry))),
               F.lit("</urlset>")).alias("xml_str"))
           .select(F.encode("xml_str", "UTF-8").alias("xml")))
    return sitemap_entries(xml).orderBy("loc")


def _q_crawl_frontier(spark, sf_dir):
    """Mercator-style politeness frontier: round-robin interleave of
    hosts via slot = (rank_in_host - 1) * n_hosts + host_idx — no
    global row_number anywhere."""
    from ferenda_spark.operators.crawl import frontier_schedule
    return (frontier_schedule(_docs(spark, sf_dir).select("url"))
            .orderBy("slot"))


def _q_mention_contexts(spark, sf_dir):
    """KWIC evidence snippets (+-20 chars) around every planted legal
    mention — edge-level provenance for the extracted KG; the REAL
    scanner offsets drive the substring, the oracle recomputes the
    window closed-form from the constant planted offsets."""
    from ferenda_spark.operators.extract import (legal_mentions,
                                                 mention_contexts)
    docs = _legal_docs(spark, sf_dir)
    return (mention_contexts(legal_mentions(docs), docs,
                             before=20, after=20)
            .orderBy("url", "start"))


def _q_reified_statements(spark, sf_dir):
    """RDF reification of the citation edges with md5-skolemized
    statement ids (idempotent across shards/re-runs) + dcterms:source
    provenance — entirely map-side."""
    from ferenda_spark.operators.triples import (mention_triples,
                                                 reify_statements)
    return (reify_statements(mention_triples(_docs(spark, sf_dir)))
            .orderBy("stmt_uri", "pred", "obj"))


def _q_pred_cooccurrence(spark, sf_dir):
    """Schema induction: predicate co-occurrence on shared subjects
    over the full distilled graph — per-subject bounded self-join."""
    from ferenda_spark.operators.triples import pred_cooccurrence
    return (pred_cooccurrence(_triples(spark, sf_dir))
            .orderBy("pred_a", "pred_b"))


def _q_split_assignment(spark, sf_dir):
    """Deterministic train/val/test assignment (96/2/2) by the
    portable md5 bucket — the split is a pure function of doc_id, so
    it is stable under re-runs, resumes and corpus growth (a doc
    never migrates between splits)."""
    from ferenda_spark.operators.training import portable_bucket
    d = _read(spark, sf_dir, "documents")
    b = portable_bucket(F.col("doc_id"))
    return (d.select("doc_id", "source", b.alias("bucket"),
                     F.when(b < 9600, "train")
                     .when(b < 9800, "val")
                     .otherwise("test").alias("split"))
            .orderBy("doc_id"))


def _q_token_budget(spark, sf_dir):
    """Capped weighted token-budget allocation across sources (two
    proportional passes, integer div end-to-end) — the corpus-mixing
    budget step before a training-set write."""
    from ferenda_spark.operators.dedup import tokens
    from ferenda_spark.operators.training import token_budget_allocation
    avail = (_read(spark, sf_dir, "documents")
             .groupBy("source")
             .agg(F.sum(F.size(tokens(F.col("text"))))
                  .cast("long").alias("avail_tokens")))
    return (token_budget_allocation(avail, _source_weights(spark),
                                    budget=200_000)
            .orderBy("source"))


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


def _q_html_tables(spark, sf_dir):
    """HTML <table> extraction through the REAL DOM parser (same
    parser as the extract stage; th+td, nested-table-safe): one row
    per cell — the raw material of infobox mining."""
    from ferenda_spark.operators.extract import html_table_cells
    return (html_table_cells(_infobox_pages(spark, sf_dir))
            .orderBy("url", "table_idx", "row_idx", "col_idx"))


def _q_infobox_triples(spark, sf_dir):
    """Infobox mining: key/value table rows -> (doc, urn:prop:key,
    value) triples — the DBpedia extraction pattern.  Pivot = one
    groupBy per (url, table, row); key URIs lowercased."""
    from ferenda_spark.operators.extract import html_table_cells
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


def _q_entity_disambiguation(spark, sf_dir):
    """Wikification baseline: each mention has two candidate entities;
    the one whose planted profile shares more tokens with the
    mention's context wins (ties -> lowest entity id)."""
    from ferenda_spark.operators.linking import disambiguate_by_context
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    mentions = d.select(
        did.alias("mention_id"),
        F.array(F.concat(F.lit("p"), (did % 5).cast("string")),
                F.concat(F.lit("q"), (did % 7).cast("string")),
                F.lit("noise")).alias("context_tokens"))
    candidates = (d.select(did.alias("mention_id"),
                           (did % 50).alias("entity_id"))
                  .unionByName(
                      d.select(did.alias("mention_id"),
                               ((did + 1) % 50).alias("entity_id"))))
    profiles = spark.range(50).select(
        F.col("id").alias("entity_id"),
        F.array(F.concat(F.lit("p"), (F.col("id") % 5).cast("string")),
                F.concat(F.lit("q"), (F.col("id") % 3).cast("string")))
        .alias("profile_tokens"))
    return (disambiguate_by_context(mentions, candidates, profiles)
            .orderBy("mention_id"))


def _q_cms_tokens(spark, sf_dir):
    """Count-Min Sketch register table over the corpus token stream
    (depth 4 x width 256, portable md5 hashes): the mergeable
    heavy-hitter summary — at most 1024 rows out regardless of corpus
    size."""
    from ferenda_spark.operators.dedup import tokens
    from ferenda_spark.operators.sketches import cms_counts
    items = (_read(spark, sf_dir, "documents")
             .select(F.explode(tokens(F.col("text"))).alias("token")))
    return (cms_counts(items, "token", depth=4, width=256)
            .orderBy("sketch_row", "col"))


def _q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (m=64) for distinct-token
    cardinality per source — integers only; the harmonic-mean
    estimate stays consumer-side (pytest)."""
    from ferenda_spark.operators.dedup import tokens
    from ferenda_spark.operators.sketches import hll_registers
    items = (_read(spark, sf_dir, "documents")
             .select("source",
                     F.explode(tokens(F.col("text"))).alias("token")))
    return (hll_registers(items, "source", "token", m=64)
            .orderBy("source", "register"))


def _q_kmv_jaccard(spark, sf_dir):
    """KMV (bottom-k) distinct-set comparison of src0 vs src1 token
    vocabularies — the sketch-side set algebra (union/intersection/
    Jaccard from k integers per side) that HLL cannot do; all-integer
    output, estimate pinned to integer div."""
    from ferenda_spark.operators.dedup import tokens
    from ferenda_spark.operators.sketches import kmv_compare
    items = (_read(spark, sf_dir, "documents")
             .where(F.col("source").isin("src0", "src1"))
             .select("source",
                     F.explode(tokens(F.col("text"))).alias("token"))
             .where(F.length("token") > 0))
    return kmv_compare(items, "source", "token", "src0", "src1", k=32)


def _q_hist_quantiles(spark, sf_dir):
    """Length quantiles (p50/p90/p99 of n_chars) from a log-linear
    HdrHistogram-style sketch: integer-only buckets (top-4-bits
    log-linear), mergeable by groupBy-sum, the quantile step runs on
    the FIXED-SIZE bucket table — what replaces an exact global sort
    for percentiles over 10^12 rows.  No float log2 anywhere, so both
    engines bucket identically."""
    from ferenda_spark.operators.sketches import (histogram_quantiles,
                                                  log_histogram)
    hist = log_histogram(_read(spark, sf_dir, "documents"),
                         "n_chars", sub_bits=4)
    return histogram_quantiles(hist, [0.5, 0.9, 0.99]).orderBy("q")


def _q_bloom_probe(spark, sf_dir):
    """Have-I-crawled-this membership: Bloom bits built from the
    even-doc URLs (k=3, m=4096), odd-doc URLs probed — never a false
    negative; false positives at the standard rate, deterministically
    reproduced by the oracle."""
    from ferenda_spark.operators.sketches import bloom_bits, bloom_probe
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


def _q_sitemap_diff(spark, sf_dir):
    """Recrawl planning: diff two planted crawl snapshots — old has
    doc_id % 4 != 3, new has % 4 != 1, and every % 8 == 0 doc's
    lastmod shifted a day — so all four statuses occur."""
    from ferenda_spark.operators.crawl import sitemap_diff
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"), did)
    issued = F.date_format(
        F.expr("date_add(DATE'2020-01-01', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    shifted = F.date_format(
        F.expr("date_add(DATE'2020-01-02', "
               "CAST((doc_id * 37) % 1461 AS INT))"), "yyyy-MM-dd")
    old = (d.where(did % 4 != 3)
           .select(url.alias("loc"), issued.alias("lastmod")))
    new = (d.where(did % 4 != 1)
           .select(url.alias("loc"),
                   F.when(did % 8 == 0, shifted).otherwise(issued)
                   .alias("lastmod")))
    return sitemap_diff(old, new).orderBy("loc")


def _q_neighbor_agg(spark, sf_dir):
    """GraphSAGE-style 1- and 2-hop feature aggregation (path-count
    semantics) over the citation graph with n_chars as the node
    feature — the pre-training feature-engineering step."""
    from ferenda_spark.operators.graphs import neighbor_feature_agg
    d = _read(spark, sf_dir, "documents")
    e1 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 1).alias("doc_b"))
    e2 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 2).alias("doc_b"))
    feats = d.select(F.col("doc_id").alias("node"),
                     F.col("n_chars").alias("feature"))
    return (neighbor_feature_agg(e1.unionByName(e2), feats)
            .orderBy("node"))


def _q_label_prop(spark, sf_dir):
    """Community detection: synchronous label propagation (4 rounds,
    min-of-argmax tie-break) over a planted two-community graph — per
    20-doc block a triangle, a bridge edge, and a second triangle.
    The oracle unrolls the same 4 rounds in SQL, so the comparison is
    algorithm-exact, not just converged-answer-exact."""
    from ferenda_spark.operators.graphs import label_propagation
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(0, 2))
             .unionByName(_e(2, 5)).unionByName(_e(5, 6))
             .unionByName(_e(6, 7)).unionByName(_e(5, 7)))
    return label_propagation(edges, rounds=4).orderBy("node")


def _q_jsonld_triples(spark, sf_dir):
    """schema.org JSON-LD extraction: planted ld+json script blocks
    (closed-form @id/@type/name/wordCount per doc_id) parsed back out
    of the page bytes by the real regexp+from_json pipeline."""
    from ferenda_spark.operators.extract import jsonld_triples
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


def _q_hearst_pairs(spark, sf_dir):
    """Hearst-pattern taxonomy mining: planted 'Topics such as a, b
    and c' sentences; the operator recovers each (hypernym, hyponym)
    pair by real regex extraction over the text."""
    from ferenda_spark.operators.extract import hearst_pairs
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


def _q_distant_supervision(spark, sf_dir):
    """Distant-supervision labeling: each doc contributes one entity-
    pair context (e_{id%10}, e_{(id+3)%10}); a 6-row seed KB labels
    pairs 0..4 (pair 0 carries two relations -> multi-instance fan
    out), everything else is NA."""
    from ferenda_spark.operators.linking import distant_supervision
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ctx = d.select(
        F.concat(F.lit("ctx"), did.cast("string")).alias("context_id"),
        F.concat(F.lit("e"), (did % 10).cast("string")).alias("subj"),
        F.concat(F.lit("e"), ((did + 3) % 10).cast("string"))
        .alias("obj"))
    kb = spark.createDataFrame(
        [("e%d" % i, "e%d" % ((i + 3) % 10), "rel%d" % i)
         for i in range(5)] + [("e0", "e3", "rel0b")],
        "subj string, obj string, relation string")
    return (distant_supervision(ctx, kb)
            .orderBy("context_id", "relation"))


def _q_nil_clustering(spark, sf_dir):
    """NIL detection + clustering: link scores doc_id%7 (threshold 3
    -> %7 in 0..2 are NIL), surfaces planted with messy whitespace
    ('Entity  <id%13>') so the normalizer does real work; NILs
    cluster on the normalized form and mint urn:nil entities."""
    from ferenda_spark.operators.linking import nil_clustering
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    linked = d.select(
        did.alias("mention_id"),
        F.concat(F.lit("urn:e:"), (did % 50).cast("string"))
        .alias("entity_id"),
        (did % 7).alias("overlap"),
        F.concat(F.lit("Entity  "), (did % 13).cast("string"))
        .alias("surface"))
    return nil_clustering(linked, threshold=3).orderBy("mention_id")


def _q_taxonomy_reduction(spark, sf_dir):
    """Transitive reduction of a planted hypernym DAG: per 20-doc
    block a 4-node chain plus all three skip edges; the reduction
    must keep exactly the chain — the Hearst-output cleanup step."""
    from ferenda_spark.operators.graphs import transitive_reduction
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(2, 3))
             .unionByName(_e(0, 2)).unionByName(_e(0, 3))
             .unionByName(_e(1, 3)))
    return (transitive_reduction(edges)
            .orderBy("doc_a", "doc_b"))


def _q_coref_chains(spark, sf_dir):
    """Coreference-lite: planted per-doc mention sequences — leading
    pronoun (unresolved) on every 6th doc, entity A, pronoun, entity
    B, pronoun — resolved by the recency window."""
    from ferenda_spark.operators.linking import coref_chains
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/coref/"),
                   did.cast("string"))
    ea = F.concat(F.lit("urn:e:"), (did % 5).cast("string"))
    eb = F.concat(F.lit("urn:e:"), ((did + 2) % 5).cast("string"))
    parts = [
        d.where(did % 6 == 0).select(
            url.alias("url"), F.lit(0).alias("pos"),
            F.lit("He").alias("surface"),
            F.lit(None).cast("string").alias("entity")),
        d.select(url.alias("url"), F.lit(1).alias("pos"),
                 F.concat(F.lit("Alice"), (did % 5).cast("string"))
                 .alias("surface"), ea.alias("entity")),
        d.select(url.alias("url"), F.lit(2).alias("pos"),
                 F.lit("she").alias("surface"),
                 F.lit(None).cast("string").alias("entity")),
        d.select(url.alias("url"), F.lit(3).alias("pos"),
                 F.concat(F.lit("Bob"), ((did + 2) % 5).cast("string"))
                 .alias("surface"), eb.alias("entity")),
        d.select(url.alias("url"), F.lit(4).alias("pos"),
                 F.lit("they").alias("surface"),
                 F.lit(None).cast("string").alias("entity")),
    ]
    m = parts[0]
    for p in parts[1:]:
        m = m.unionByName(p)
    return coref_chains(m).orderBy("url", "pos")


def _q_quote_attribution(spark, sf_dir):
    """Quote-speaker attribution: two planted '\"...,\" said First
    Last' frames per doc, speakers alternating by doc parity."""
    from ferenda_spark.operators.extract import quote_attribution
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


def _q_alias_priors(spark, sf_dir):
    """Alias-table construction: anchor observations with messy
    casing ('Alias x' vs ' alias x ') and two candidate entities per
    surface (the %3==0 docs point at the +100 entity) -> commonness
    priors and candidate ranks."""
    from ferenda_spark.operators.linking import alias_priors
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    x = (did % 8).cast("string")
    surface = F.when(did % 2 == 0, F.concat(F.lit("Alias "), x)) \
        .otherwise(F.concat(F.lit(" alias "), x, F.lit(" ")))
    entity = F.concat(
        F.lit("urn:e:"),
        ((did % 8) + F.when(did % 3 == 0, 100).otherwise(0))
        .cast("string"))
    anchors = d.select(surface.alias("surface"), entity.alias("entity"))
    return alias_priors(anchors).orderBy("surface", "rank")


def _q_ppr(spark, sf_dir):
    """Personalized PageRank, 3 rounds, alpha=0.5 over a planted
    per-block cycle+chord graph: out-degrees are 1 or 2, alpha is
    dyadic, so every score is an exact IEEE double and the oracle
    (which unrolls the same recursion) compares hash-exact."""
    from ferenda_spark.operators.graphs import personalized_pagerank
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(2, 0))
             .unionByName(_e(0, 2)))
    seeds = b.select(F.col("b").alias("node"))
    return (personalized_pagerank(edges, seeds, iterations=3,
                                  alpha=0.5)
            .orderBy("node"))


def _q_spam_mass(spark, sf_dir):
    """Relative spam mass (Gyongyi VLDB 2006) over the planted
    per-block cycle+chord graph: global PageRank (damping 0.5, 5
    rounds) minus |seeds|-normalized TrustRank (PPR from the b%40==0
    block roots, 3 rounds, alpha 0.5), over PageRank.  Planted
    out-degrees are 1-2 and every constant is dyadic, so both loops
    are exact IEEE and the unrolled oracle compares hash-exact.
    Untrusted blocks surface at mass 1.0 — the link-farm signature."""
    from ferenda_spark.operators.graphs import spam_mass
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(2, 0))
             .unionByName(_e(0, 2)))
    trusted = (b.where(F.col("b") % 40 == 0)
               .select(F.col("b").alias("node")))
    return spam_mass(edges, trusted).orderBy("node")


def _q_simrank(spark, sf_dir):
    """SimRank (2 iterations, C=0.5) over a planted per-block graph
    whose in-degrees are all powers of two: every score is an exact
    sum of dyadic rationals, so the unrolled oracle compares
    hash-exact with no float-order hazard.  Block shape (b->b+2,
    b+1->b+2, b->b+3, b+1->b+3, b+2->b+4, b+3->b+4, b+3->b+1,
    b+4->b+1) plants both first-iteration co-citation pairs and
    second-iteration similarity that only SimRank's recursion
    reaches."""
    from ferenda_spark.operators.graphs import simrank
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 2).unionByName(_e(1, 2)).unionByName(_e(0, 3))
             .unionByName(_e(1, 3)).unionByName(_e(2, 4))
             .unionByName(_e(3, 4)).unionByName(_e(3, 1))
             .unionByName(_e(4, 1)))
    return (simrank(edges, iterations=2, c=0.5)
            .orderBy("node_a", "node_b"))


def _q_kg_walks(spark, sf_dir):
    """DeepWalk corpus over a planted per-block branching graph
    (b->b+1, b->b+2, b+1->b+3, b+2->b+3, b+3->b+1): 2 deterministic
    hash-argmin walks of length 3 per start node; the oracle replays
    the identical md5 recursion."""
    from ferenda_spark.operators.training import deterministic_walks
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(0, 2)).unionByName(_e(1, 3))
             .unionByName(_e(2, 3)).unionByName(_e(3, 1)))
    return (deterministic_walks(edges, walk_len=3, walks_per_node=2)
            .orderBy("start", "walk_idx", "step"))


def _q_table_column_types(spark, sf_dir):
    """Column typing through the REAL DOM parser: a planted 3-row
    data table per doc with date/int/url/text columns and one dirty
    cell ('n/a' in the int column of every 5th doc) — majority vote
    must still type it int."""
    from ferenda_spark.operators.extract import (html_table_cells,
                                                 table_column_types)
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


def _q_schema_matching(spark, sf_dir):
    """WebTables-style schema matching: left columns (year, topic)
    vs right (yr, subject, city) with planted value overlaps —
    year~yr share the 2010-2029 band, topic~subject share the mod-7
    topics, city matches nothing and must not appear."""
    from ferenda_spark.operators.extract import schema_match
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


def _q_fd_discovery(spark, sf_dir):
    """FD/key discovery over a planted 4-column table: id is a key,
    %14 determines %7 and %2, nothing determines id, %7 and %2
    determine nothing — the full 12-pair audit matrix."""
    from ferenda_spark.operators.extract import fd_discovery
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rows = d.select(did.alias("id"), (did % 14).alias("a"),
                    (did % 7).alias("b"), (did % 2).alias("c"))
    return fd_discovery(rows, ["id", "a", "b", "c"]) \
        .orderBy("lhs", "rhs")


def _q_unit_normalize(spark, sf_dir):
    """Unit normalization over planted infobox-style value strings:
    km/g/MB rows normalize to integer SI values, 'fast' fails the
    parse, furlongs parse but miss the unit table."""
    from ferenda_spark.operators.cleaning import normalize_units
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    n9 = (did % 9).cast("string")
    raw = (F.when(did % 5 == 0, F.concat(n9, F.lit(" km")))
           .when(did % 5 == 1, F.concat(n9, F.lit(" g")))
           .when(did % 5 == 2,
                 F.concat((did % 4).cast("string"), F.lit(" MB")))
           .when(did % 5 == 3, F.lit("fast"))
           .otherwise(F.concat(n9, F.lit(" furlongs"))))
    df = d.select(did.alias("doc_id"), raw.alias("raw"))
    return normalize_units(df).orderBy("doc_id")


def _q_geo_coords(spark, sf_dir):
    """Geo-coordinate parsing over planted '<lat>° N, <lon>° E'
    literals with hemisphere signs; every 7th doc is malformed and
    must yield NULLs."""
    from ferenda_spark.operators.cleaning import parse_geo_coords
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lat_s = F.concat((did % 90).cast("string"), F.lit("."),
                     (did % 10).cast("string"))
    lon_s = F.concat((did % 180).cast("string"), F.lit("."),
                     ((did + 3) % 10).cast("string"))
    ns = F.when(did % 2 == 0, "N").otherwise("S")
    ew = F.when(did % 3 == 0, "W").otherwise("E")
    raw = F.when(did % 7 == 0, F.lit("unknown")).otherwise(
        F.concat(lat_s, F.lit("° "), ns, F.lit(", "),
                 lon_s, F.lit("° "), ew))
    df = d.select(did.alias("doc_id"), raw.alias("raw"))
    return parse_geo_coords(df).orderBy("doc_id")


def _q_er_eval(spark, sf_dir):
    """Pairwise ER evaluation: gold clusters = doc_id div 4; the
    prediction breaks every 16th doc out into a singleton — the
    oracle mirrors the pair-join computation, so tp/fp/fn and the
    P/R/F1 doubles must agree bit-exactly."""
    from ferenda_spark.operators.dedup import er_pairwise_eval
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


def _q_sentences(spark, sf_dir):
    """Sentence segmentation with abbreviation guards: planted 4-
    sentence docs where 'Dr.' and the single initial 'A.' must NOT
    split but '.', '!' and '?' boundaries must."""
    from ferenda_spark.operators.textstats import split_sentences
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


def _q_cluster_keep(spark, sf_dir):
    """Keep-one-per-cluster selection over the MinHash dup clusters
    (longest member wins, ties -> lowest id) — the final dedup
    decision a training pipeline applies before writing."""
    from ferenda_spark.operators.dedup import (cluster_representatives,
                                               dup_clusters,
                                               minhash_band_pairs)
    d = _read(spark, sf_dir, "documents")
    clusters = dup_clusters(minhash_band_pairs(
        d, n=3, num_hashes=8, band_size=2))
    return (cluster_representatives(clusters, d, quality_col="n_chars")
            .orderBy("cluster_id"))


def _q_hyperball(spark, sf_dir):
    """HyperBall neighborhood function over a planted per-block
    4-cycle (b->b+1->b+2->b+3->b): every register value is the
    portable md5 rank, every ball is exact at radius<=2, so the
    integer register table compares hash-exact against the oracle's
    2-round unrolled propagation."""
    from ferenda_spark.operators.graphs import hyperball
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(2, 3))
             .unionByName(_e(3, 0)))
    return (hyperball(edges, rounds=2, m=16)
            .orderBy("radius", "node", "register"))


def _q_rdf_lists(spark, sf_dir):
    """RDF collection flattening over planted author lists (one list
    of length 1 + doc_id%3 per doc_id%10==0 document, cons cells
    list:{doc}:{i}): the operator walks the real rdf:rest chains;
    the oracle emits the expected positional rows closed-form."""
    from ferenda_spark.operators.graphs import (RDF_FIRST, RDF_NIL,
                                                RDF_REST,
                                                rdf_list_flatten)
    d = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 10 == 0).select("doc_id"))
    did = F.col("doc_id")
    cell = F.format_string("https://example.org/list/%d/%d", did,
                           F.col("i"))
    nxt = F.format_string("https://example.org/list/%d/%d", did,
                          F.col("i") + 1)
    member = F.format_string("https://example.org/res/person/%d",
                             (did * 7 + F.col("i")) % 50)
    cells = d.select(
        "doc_id", (did % 3).alias("last"),
        F.explode(F.sequence(F.lit(0), did % 3)).alias("i"))
    firsts = cells.select(cell.alias("subj"),
                          F.lit(RDF_FIRST).alias("pred"),
                          member.alias("obj"))
    rests = cells.select(
        cell.alias("subj"), F.lit(RDF_REST).alias("pred"),
        F.when(F.col("i") < F.col("last"), nxt)
        .otherwise(F.lit(RDF_NIL)).alias("obj"))
    anchors = d.select(
        F.format_string("https://example.org/res/doc/%d", did)
        .alias("subj"),
        F.lit("https://example.org/vocab/authorList").alias("pred"),
        F.format_string("https://example.org/list/%d/0", did)
        .alias("obj"))
    triples = firsts.unionByName(rests).unionByName(anchors)
    return (rdf_list_flatten(triples, max_len=4)
            .orderBy("subj", "idx"))


def _q_owl_entailed(spark, sf_dir):
    """OWL-RL property rules (inverseOf / symmetric / transitive)
    over planted per-block facts: partOf(b, b+2) mints
    hasPart(b+2, b); connected(b, b+1) mints its mirror;
    the ancestor chain b->b+1->b+2 closes with ancestor(b, b+2).
    inferred_only=True: the oracle emits the closed-form delta."""
    from ferenda_spark.operators.graphs import (OWL, OWL_INVERSEOF,
                                                owl_entailment)
    from ferenda_spark import vocab
    V = "https://example.org/vocab/"
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _fact(pred, i, j):
        return b.select(
            F.format_string("https://example.org/res/doc/%d",
                            F.col("b") + i).alias("subj"),
            F.lit(V + pred).alias("pred"),
            F.format_string("https://example.org/res/doc/%d",
                            F.col("b") + j).alias("obj"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit("https://example.org/ctx").alias("context"))
    facts = (_fact("partOf", 0, 2)
             .unionByName(_fact("connected", 0, 1))
             .unionByName(_fact("ancestor", 0, 1))
             .unionByName(_fact("ancestor", 1, 2)))
    onto = spark.createDataFrame(
        [(V + "partOf", OWL_INVERSEOF, V + "hasPart"),
         (V + "connected", vocab.RDF_TYPE, OWL + "SymmetricProperty"),
         (V + "ancestor", vocab.RDF_TYPE, OWL + "TransitiveProperty")],
        "subj string, pred string, obj string")
    return (owl_entailment(facts, onto, inferred_only=True)
            .select("subj", "pred", "obj", "context")
            .orderBy("pred", "subj"))


def _q_paragraph_dedup(spark, sf_dir):
    """Cross-doc paragraph dedup keep-first over planted 3-paragraph
    pages (shared per-source boilerplate header, unique body, shared
    footer per doc_id%7): only the lexicographically-first url keeps
    each shared paragraph; the oracle replays the same (url, pos)
    election in SQL."""
    from ferenda_spark.operators.dedup import paragraph_dedup
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


def _q_bitext_pairs(spark, sf_dir):
    """CCAligned-style URL-matching bitext candidates over planted
    language-segmented urls (https://mirror.example/{lang}/page/{b}
    with b = doc_id div 5): docs sharing a path block in different
    languages pair up, filtered by the Gale-Church length-ratio
    test on the REAL text lengths."""
    from ferenda_spark.operators.linking import bitext_candidates
    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        F.format_string("https://mirror.example/%s/page/%d",
                        F.col("lang"),
                        F.expr("doc_id div 5")).alias("url"),
        "lang", "text")
    return (bitext_candidates(pages, ratio=2.0)
            .orderBy("path_key", "lang_a", "lang_b", "url_a", "url_b"))


def _q_entity_salience(spark, sf_dir):
    """Entity salience from REAL scanner mention offsets: the legal
    corpus text is doubled so every citation has n_mentions=2 with a
    known dispersion; features, the salience ratio, and the per-doc
    rank are all closed-form from the planted fixed-width offsets."""
    from ferenda_spark.operators.extract import legal_mentions
    from ferenda_spark.operators.linking import entity_salience
    docs = (_legal_docs(spark, sf_dir)
            .select("url", F.concat_ws(" ", "text", "text")
                    .alias("text")))
    return (entity_salience(legal_mentions(docs))
            .orderBy("url", "rank"))


def _q_microdata(spark, sf_dir):
    """HTML5 microdata through the REAL DOM parser: one
    schema.org/Article item per planted page with a nested Person
    author — skolem ids in document order, the 7 triples per page
    emitted closed-form by the oracle."""
    from ferenda_spark.operators.extract import microdata_triples
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


def _q_hreflang(spark, sf_dir):
    """<link rel=alternate hreflang> extraction through the real DOM
    parser — the page-declared translation graph that seeds bitext
    mining; two planted alternates per page (the doc's own language
    + x-default)."""
    from ferenda_spark.operators.extract import hreflang_alternates
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


def _q_social_meta(spark, sf_dir):
    """OpenGraph/Twitter-card meta tags through the REAL DOM parser,
    document order with 0-based positions; noise metas dropped."""
    from ferenda_spark.operators.extract import social_meta_tags
    return (social_meta_tags(_social_pages(spark, sf_dir))
            .orderBy("url", "pos"))


def _q_page_cards(spark, sf_dir):
    """Effective social card per page: og beats twitter, first tag
    wins within a namespace, absent fields stay absent."""
    from ferenda_spark.operators.extract import (social_meta_tags,
                                                 resolve_page_cards)
    return (resolve_page_cards(
        social_meta_tags(_social_pages(spark, sf_dir)))
        .orderBy("url", "field"))


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


def _q_content_blocks(spark, sf_dir):
    """DOM leaf-block segmentation + context-free jusText labels
    (word count, integer-permille link density)."""
    from ferenda_spark.operators.cleaning import (classify_blocks,
                                                  content_blocks)
    return (classify_blocks(content_blocks(
        _block_pages(spark, sf_dir)))
        .orderBy("url", "block_id"))


def _q_main_content(spark, sf_dir):
    """Composed main-content extraction: neighbor smoothing, then the
    newline-joined good-block text per page."""
    from ferenda_spark.operators.cleaning import main_content
    return (main_content(_block_pages(spark, sf_dir))
            .orderBy("url"))


def _q_margin_bitext(spark, sf_dir):
    """Artetxe-Schwenk ratio-margin bitext mining: even-label
    embeddings as the source side, odd-label as the target side;
    best target per source with integer micro-cosine / permille
    margin, threshold 1000 (= above the neighborhood average)."""
    from ferenda_spark.operators.linking import margin_bitext_pairs
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


def _q_galechurch(spark, sf_dir):
    """Gale-Church alignment on planted doc pairs whose sides have
    IDENTICAL per-index sentence lengths (20 + (doc_id+7i) mod 13,
    4..6 sentences) — the all-1-1 diagonal is provably optimal
    (each 1-1 bead costs -log 0.89 at delta 0; any merge pays the
    2-1 prior plus a length-mismatch tail), so the oracle is the
    closed-form diagonal."""
    from ferenda_spark.operators.linking import galechurch_align
    d = _read(spark, sf_dir, "documents")
    n = 4 + (F.col("doc_id") % 3)
    sents = d.select(
        F.col("doc_id").alias("pair_id"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("sent_id"))
    lens = (20 + ((F.col("pair_id") + 7 * F.col("sent_id")) % 13)) \
        .cast("int")
    one = sents.select("pair_id", "sent_id", lens.alias("n_chars"))
    ab = (one.select("pair_id", F.lit("a").alias("side"),
                     "sent_id", "n_chars")
          .unionByName(
              one.select("pair_id", F.lit("b").alias("side"),
                         "sent_id", "n_chars")))
    return galechurch_align(ab).orderBy("pair_id", "bead_id")


def _q_robots_meta(spark, sf_dir):
    """Robots-meta verdicts: doc_id%4 plants 'noindex, nofollow' /
    'NoIndex' (case test) / 'nofollow' / no meta at all."""
    from ferenda_spark.operators.crawl import robots_meta
    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    meta = (F.when(m == 0, '<meta name="robots" '
                           'content="noindex, nofollow"/>')
            .when(m == 1, '<meta name="ROBOTS" content="NoIndex"/>')
            .when(m == 2, '<meta name="robots" content="nofollow"/>')
            .otherwise(""))
    html = F.concat(F.lit("<html><head>"), meta,
                    F.lit("</head><body>x</body></html>"))
    pages = d.select(
        F.concat(F.lit("https://example.org/robots/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return robots_meta(pages).orderBy("url")


def _q_follow_edges(spark, sf_dir):
    """Follow/nofollow edge extraction: rel=nofollow (incl. as one
    token of 'ugc nofollow'), page-level meta nofollow on every 5th
    doc, other rel tokens harmless."""
    from ferenda_spark.operators.crawl import follow_edges
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    meta = F.when(did % 5 == 0,
                  '<meta name="robots" content="nofollow"/>') \
        .otherwise("")
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body>"),
        F.lit('<a href="https://example.org/plain/'), did,
        F.lit('">p</a><a rel="nofollow" '
              'href="https://example.org/nf/'), did,
        F.lit('">n</a><a rel="ugc nofollow" '
              'href="https://example.org/ugc/'), did,
        F.lit('">u</a><a rel="me" href="https://example.org/me/'),
        did, F.lit('">m</a></body></html>'))
    pages = d.select(
        F.concat(F.lit("https://example.org/page/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return follow_edges(pages).orderBy("src_url", "position")


def _q_feed_entries(spark, sf_dir):
    """RSS 2.0 (even doc_id) and Atom (odd) feeds, two entries each:
    entry A carries all fields (Atom: published AND updated —
    published must win), entry B omits the date (RSS -> NULL;
    Atom falls back to updated)."""
    from ferenda_spark.operators.crawl import feed_entries
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>Feed '), s,
        F.lit("</title><item><title>Post "), s,
        F.lit(" A</title><link>https://example.org/p/"), s,
        F.lit("/a</link><guid>tag:"), s,
        F.lit(":a</guid><pubDate>Mon, 01 Jan 2024</pubDate></item>"
              "<item><title>Post "), s,
        F.lit(" B</title><link>https://example.org/p/"), s,
        F.lit("/b</link><guid>tag:"), s,
        F.lit(":b</guid></item></channel></rss>"))
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'
              "<title>Feed "), s,
        F.lit("</title><entry><title>Post "), s,
        F.lit(' A</title><link href="https://example.org/p/'), s,
        F.lit('/a"/><id>tag:'), s,
        F.lit(":a</id><published>2024-01-01T00:00:00Z</published>"
              "<updated>2024-02-01T00:00:00Z</updated></entry>"
              "<entry><title>Post "), s,
        F.lit(' B</title><link href="https://example.org/p/'), s,
        F.lit('/b"/><id>tag:'), s,
        F.lit(":b</id><updated>2024-02-01T00:00:00Z</updated>"
              "</entry></feed>"))
    xml = F.when(did % 2 == 0, rss).otherwise(atom)
    feeds = d.select(
        F.concat(F.lit("https://example.org/feed/"), s)
        .alias("feed_url"),
        F.encode(xml, "UTF-8").alias("xml"))
    return feed_entries(feeds).orderBy("feed_url", "idx")


def _robots_texts(spark, sf_dir):
    """Planted robots.txt per host: every doc's file has a ``*``
    group (Disallow /private, Allow /private/ok{id%3}, Crawl-delay
    2) and a top-level Sitemap line; EVEN docs also carry a
    ferendabot group (Disallow /bot{id%5}) that must shadow ``*``."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    base = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"
              "Allow: /private/ok"),
        (did % 3),
        F.lit("\nCrawl-delay: 2\n\nSitemap: https://h"), s,
        F.lit(".example.org/sitemap.xml\n"))
    bot = F.concat(
        F.lit("User-agent: ferendabot\n# scoped group\n"
              "Disallow: /bot"), (did % 5), F.lit("\n"))
    txt = F.when(did % 2 == 0, F.concat(base, bot)).otherwise(base)
    return d.select(
        F.concat(F.lit("h"), s, F.lit(".example.org")).alias("host"),
        txt.alias("robots_txt"))


def _q_parse_robots(spark, sf_dir):
    """robots.txt parsing for agent=ferendabot: exact group shadows
    ``*`` on even docs, odd docs fall back to the ``*`` rules."""
    from ferenda_spark.operators.crawl import parse_robots
    return (parse_robots(_robots_texts(spark, sf_dir),
                         agent="ferendabot")
            .orderBy("host", "rule_no"))


def _q_robots_host_meta(spark, sf_dir):
    """Crawl-delay + sitemap side channels: the matched ferendabot
    group has no delay (NULL on even docs); ``*`` fallback carries
    2000 ms; the sitemap line is group-independent."""
    from ferenda_spark.operators.crawl import robots_host_meta
    return (robots_host_meta(_robots_texts(spark, sf_dir),
                             agent="ferendabot")
            .orderBy("host", "sitemap_no"))


def _q_cdx_index(spark, sf_dir):
    """CDX capture index: three captures per doc whose raw URLs
    differ in www/:443/utm noise but canonicalize+SURT to one key;
    digests give 2 distinct versions."""
    from ferenda_spark.operators.crawl import cdx_index
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    h = (did % 50).cast("string")
    tail = F.concat(F.lit(".example.org/page/"), s)
    cap = lambda url, ts, dg: d.select(
        url.alias("url"), F.lit(ts).alias("warc_ts"),
        dg.alias("digest"))
    c1 = cap(F.concat(F.lit("https://WWW.h"), h, tail,
                      F.lit("?utm_source=x&q=1")),
             "2024-01-01", F.concat(F.lit("d"), (did % 2)))
    c2 = cap(F.concat(F.lit("https://h"), h, F.lit(".example.org:443"
                      ), F.lit("/page/"), s, F.lit("?q=1")),
             "2024-01-02", F.concat(F.lit("d"), (did % 2)))
    c3 = cap(F.concat(F.lit("https://h"), h, tail, F.lit("?q=1")),
             "2024-01-03", F.lit("dX"))
    return (cdx_index(c1.unionByName(c2).unionByName(c3))
            .orderBy("surt"))


def _q_mime_sniff(spark, sf_dir):
    """Magic-byte triage over synthesized blobs: doc_id%8 plants
    jpeg/png/gif/wav/pdf/gzip/html/junk."""
    from ferenda_spark.operators.multimodal import sniff_mime
    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    blob = (F.when(m == 0, F.unhex(F.lit("FFD8FFE000104A464946")))
            .when(m == 1, F.unhex(F.lit("89504E470D0A1A0A0000")))
            .when(m == 2, F.encode(F.lit("GIF89a;"), "UTF-8"))
            .when(m == 3, F.concat(
                F.encode(F.lit("RIFF"), "UTF-8"),
                F.unhex(F.lit("24000000")),
                F.encode(F.lit("WAVE"), "UTF-8")))
            .when(m == 4, F.encode(F.lit("%PDF-1.4"), "UTF-8"))
            .when(m == 5, F.unhex(F.lit("1F8B0800")))
            .when(m == 6, F.encode(F.lit("<!DOCTYPE html><html>"),
                                   "UTF-8"))
            .otherwise(F.encode(F.lit("plain text bytes"), "UTF-8")))
    return (d.select("doc_id", sniff_mime(blob).alias("mime"))
            .orderBy("doc_id"))


def _q_contrastive_pairs(spark, sf_dir):
    """LSH-derived contrastive pairs: banded candidates labeled
    positive / hard-negative by the signature-agreement estimate —
    the embedding-training byproduct of the dedup index."""
    from ferenda_spark.operators.training import contrastive_pairs
    return (contrastive_pairs(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_a", "doc_b"))


def _q_profile(spark, sf_dir):
    """Warehouse-style column profile of the documents table: one
    pass, one groupBy; exact NDV at test scale (the operator
    documents the approx_count_distinct swap for 10^12 rows)."""
    from ferenda_spark.operators.quality import profile_table
    return (profile_table(_read(spark, sf_dir, "documents"))
            .orderBy("column"))


def _q_entity_cooccurrence(spark, sf_dir):
    """Entity co-mention lift over planted multi-entity docs (2-3
    entities per doc, closed-form ids): PMI-without-log so every
    score is one exact IEEE division; the oracle replays the same
    aggregation relationally."""
    from ferenda_spark.operators.triples import entity_cooccurrence
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    def _ent(expr):
        return d.select(
            F.format_string("https://example.org/docs/%d", did)
            .alias("url"),
            F.format_string("https://example.org/res/entity/%d", expr)
            .alias("entity"))
    ents = (_ent(did % 50)
            .unionByName(_ent((did * 3 + 1) % 50))
            .unionByName(_ent((did * 7 + 2) % 50)
                         .where(did % 2 == 0)))
    return (entity_cooccurrence(ents)
            .orderBy("entity_a", "entity_b"))


def _q_sameas_incremental(spark, sf_dir):
    """Incremental canonicalization: batch 1 (sameAs edges with
    doc_id%4 in {1,2}) is canonicalized from scratch, then batch 2
    (doc_id%4 == 3) merges into the STORED star-forest mapping —
    the refreshed mapping must equal the from-scratch answer over
    the full edge set (the kg_sameas_canonical closed form)."""
    from ferenda_spark.operators.canonicalize import (
        connected_components_uris, incremental_components)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    def _edges(pred):
        return (d.where(pred)
                .select(F.format_string(
                    "https://example.org/res/doc/%d", did).alias("src"),
                    F.format_string(
                    "https://example.org/res/doc/%d", did - 1)
                    .alias("dst")))
    batch1 = _edges((did % 4 == 1) | (did % 4 == 2))
    batch2 = _edges(did % 4 == 3)
    mapping1 = connected_components_uris(batch1)
    return (incremental_components(mapping1, batch2)
            .orderBy("uri"))


def _q_publication_dates(spark, sf_dir):
    """Document dating over planted in-content ISO dates (two valid
    dates per doc, none when doc_id%7==0, plus an invalid 2020-13-40
    decoy the regex must reject); the REAL regex scan runs Spark-side,
    the oracle emits min/max closed-form."""
    from ferenda_spark.operators.extract import publication_dates
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


def _shacl_input(spark, sf_dir):
    """Closed-form triple table + SHACL-lite shapes shared by the
    validation queries: every doc typed Document; title missing when
    doc_id%11==0 (minCount), a second issued when doc_id%13==0
    (maxCount), a non-numeric words value when doc_id%17==0
    (pattern)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    uri = F.format_string("https://example.org/res/doc/%d", did)
    from ferenda_spark.operators.shapes import RDF_TYPE
    cls = F.lit("https://example.org/vocab#Document")
    typ = d.select(uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                   cls.alias("obj"))
    title = (d.where(did % 11 != 0)
             .select(uri.alias("subj"),
                     F.lit("http://purl.org/dc/terms/title").alias("pred"),
                     F.format_string("Doc %d", did).alias("obj")))
    issued1 = d.select(uri.alias("subj"),
                       F.lit("http://purl.org/dc/terms/issued")
                       .alias("pred"), F.lit("2020-01-01").alias("obj"))
    issued2 = (d.where(did % 13 == 0)
               .select(uri.alias("subj"),
                       F.lit("http://purl.org/dc/terms/issued")
                       .alias("pred"), F.lit("2021-01-01").alias("obj")))
    words = d.select(
        uri.alias("subj"),
        F.lit("https://example.org/vocab#words").alias("pred"),
        F.when(did % 17 == 0, F.lit("NaN"))
        .otherwise((did % 1000).cast("string")).alias("obj"))
    triples = (typ.unionByName(title).unionByName(issued1)
               .unionByName(issued2).unionByName(words))
    shapes = spark.createDataFrame(
        [("s_title", "https://example.org/vocab#Document",
          "http://purl.org/dc/terms/title", 1, 1, None),
         ("s_issued", "https://example.org/vocab#Document",
          "http://purl.org/dc/terms/issued", 1, 1, None),
         ("s_words", "https://example.org/vocab#Document",
          "https://example.org/vocab#words", 0, None, "^[0-9]+$")],
        "shape_id string, target_class string, path string, "
        "min_count int, max_count int, pattern string")
    return triples, shapes


def _q_shacl_violations(spark, sf_dir):
    """SHACL-lite node validation (minCount / maxCount / pattern)
    over a closed-form triple table: the REAL broadcast-join +
    per-focus aggregation runs Spark-side, the oracle emits the
    planted violations."""
    from ferenda_spark.operators.shapes import shacl_validate
    triples, shapes = _shacl_input(spark, sf_dir)
    return (shacl_validate(triples, shapes)
            .orderBy("focus", "shape_id", "constraint"))


def _q_disjoint_violations(spark, sf_dir):
    """owl:disjointWith consistency: docs typed Person (doc_id%2==0)
    and Organization (doc_id%3==0) violate the axiom exactly when
    doc_id%6==0."""
    from ferenda_spark.operators.shapes import (RDF_TYPE,
                                                disjoint_violations)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    uri = F.format_string("https://example.org/res/doc/%d", did)
    person = (d.where(did % 2 == 0)
              .select(uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                      F.lit("https://example.org/vocab#Person")
                      .alias("obj")))
    org = (d.where(did % 3 == 0)
           .select(uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                   F.lit("https://example.org/vocab#Organization")
                   .alias("obj")))
    axioms = spark.createDataFrame(
        [("https://example.org/vocab#Person",
          "https://example.org/vocab#Organization")],
        "class_a string, class_b string")
    return (disjoint_violations(person.unionByName(org), axioms)
            .orderBy("subj"))


def _q_nquads_triples(spark, sf_dir):
    """Splittable N-Quads ingest: five closed-form line shapes per
    doc_id%5 (iri object / plain literal / escaped+lang literal /
    bnode+datatype+graph / malformed quarantine row); the REAL regex
    parser runs Spark-side, the oracle emits the expected parse."""
    from ferenda_spark.operators.rdfio import parse_nquads
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    s = F.format_string("<https://example.org/s/%d>", did)
    p = F.format_string("<https://example.org/p/%d>", did % 7)
    line = (F.when(did % 5 == 0, F.concat_ws(
                " ", s, p,
                F.format_string("<https://example.org/o/%d>", did),
                F.lit(".")))
            .when(did % 5 == 1, F.concat_ws(
                " ", s, p,
                F.format_string('"title %d"', did), F.lit(".")))
            .when(did % 5 == 2, F.concat_ws(
                " ", s, p,
                F.format_string('"v\\"%d"@en', did), F.lit(".")))
            .when(did % 5 == 3, F.concat_ws(
                " ", F.format_string("_:b%d", did), p,
                F.format_string(
                    '"%d"^^<http://www.w3.org/2001/XMLSchema#integer>',
                    did),
                F.format_string("<https://example.org/g/%d>", did % 3),
                F.lit(".")))
            .otherwise(F.format_string("malformed %d", did)))
    return (parse_nquads(d.select(line.alias("value")))
            .orderBy("raw"))


def _q_turtle_triples(spark, sf_dir):
    """Distributed Turtle ingest (the reference's other RDF file
    syntax: vocab/*.ttl + dumprdf/dumpstore default to turtle,
    documentrepository.py:410-447, devel.py:293,314): one synthesized
    .ttl payload per doc exercising @prefix expansion, `a`, predicate
    (`;`) and object (`,`) lists, an escaped+lang'd string literal,
    abbreviated integer and decimal literals, and a malformed doc
    (doc_id%11==10) that must come back as ONE quarantine row.  The
    REAL tokenizer/parser runs Spark-side per document (Turtle is not
    line-splittable, so the distribution unit is the doc); the oracle
    emits the expected parse closed-form."""
    from ferenda_spark.operators.rdfio import parse_turtle_docs
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("en")).alias("lang"),
        "source", F.length("text").alias("len"))
    did = F.col("doc_id")
    ttl = F.when(did % 11 == 10, F.lit("???")).otherwise(F.concat_ws(
        "\n",
        F.lit("@prefix ex: <https://example.org/> ."),
        F.lit("@prefix dct: <http://purl.org/dc/terms/> ."),
        F.format_string("ex:doc%d a ex:Document ;", did),
        F.concat(F.lit('  dct:title "Doc \\"'), did.cast("string"),
                 F.lit('\\""@'), F.col("lang"), F.lit(" ;")),
        F.format_string("  dct:extent %d ;", F.col("len")),
        F.format_string("  ex:score %d.25 ;", did % 10),
        F.concat(F.lit("  ex:source ex:src_"), F.col("source"),
                 F.lit(" , ex:mirror_"), F.col("source"), F.lit(" ."))))
    return (parse_turtle_docs(d.select("doc_id", ttl.alias("ttl")))
            .orderBy("doc_id", "pred", "obj"))


def _q_entity_cards(spark, sf_dir):
    """Serving-layer entity-card export: the real corpus doc-triples
    collapsed to one canonical record per subject (sorted pred=obj
    list) — string_agg-replayable in the oracle."""
    from ferenda_spark.operators.triples import doc_triples, entity_cards
    return (entity_cards(doc_triples(_docs(spark, sf_dir)))
            .orderBy("subj"))


def _q_train_weighted_sample(spark, sf_dir):
    """Integer-exact weight-proportional Bernoulli downsample
    (weight = 1 + doc_id%10 of max 10): kept iff
    u32(md5) * 10 < weight * 2^32 — no float on either engine."""
    from ferenda_spark.operators.training import weighted_sample
    d = _read(spark, sf_dir, "documents").select("doc_id")
    df = d.withColumn("weight", (F.lit(1) + F.col("doc_id") % 10)
                      .cast("long"))
    return weighted_sample(df, "weight", 10).orderBy("doc_id")


def _q_spam_features(spark, sf_dir):
    """Link-farm signals over a closed-form 20-host graph: forward
    edge per doc, reverse (reciprocal) edge when doc_id%4==0, self
    edge when doc_id%10==0; the oracle replays the distinct/
    reciprocity relational program."""
    from ferenda_spark.operators.cleaning import link_spam_features
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    h = F.format_string("h%d", did % 20)
    h2 = F.format_string("h%d", (did * 3 + 1) % 20)
    fwd = d.select(h.alias("src_host"), h2.alias("dst_host"))
    rev = (d.where(did % 4 == 0)
           .select(h2.alias("src_host"), h.alias("dst_host")))
    slf = (d.where(did % 10 == 0)
           .select(h.alias("src_host"), h.alias("dst_host")))
    edges = fwd.unionByName(rev).unionByName(slf)
    return link_spam_features(edges).orderBy("host")


def _q_text_winnowing(spark, sf_dir):
    """Winnowing (MOSS) fingerprints over a closed-form 12-token
    stream per doc (token_i = w((doc_id + i*i) % 7), k=3, w=4); the
    oracle replays gram-hashing, window replication and the
    rightmost-min composite-key selection in SQL."""
    from ferenda_spark.operators.dedup import winnow_fingerprints
    d = _read(spark, sf_dir, "documents").select("doc_id")
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda i: F.format_string("w%d",
                                  (F.col("doc_id") + i * i) % 7))
    docs = d.select("doc_id", F.array_join(toks, " ").alias("text"))
    return (winnow_fingerprints(docs, k=3, w=4)
            .orderBy("doc_id", "pos"))


def _scc_edges(spark, sf_dir):
    """Closed-form directed graph in complete groups of 5 doc_ids:
    a 3-cycle (b, b+1, b+2) with a 2-chain tail (b+2 -> b+3 -> b+4)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    lim = (d.count() // 5) * 5
    d = d.where(F.col("doc_id") < lim)
    did = F.col("doc_id")
    r = did % 5
    src = d.select(did.alias("src"),
                   F.when(r == 2, did - 2).otherwise(did + 1)
                   .alias("dst"))
    tail = (d.where(r == 2)
            .select(did.alias("src"), (did + 1).alias("dst")))
    return src.where(r <= 2).unionByName(tail).unionByName(
        d.where(r == 3).select(did.alias("src"), (did + 1).alias("dst")))


def _q_scc_labels(spark, sf_dir):
    """Distributed coloring SCC over the planted cycle+tail groups:
    cycle members label to the max cycle id (base+2), tail nodes are
    singleton SCCs."""
    from ferenda_spark.operators.graphs import scc_labels
    return (scc_labels(_scc_edges(spark, sf_dir))
            .orderBy("node"))


def _q_bowtie_classes(spark, sf_dir):
    """Broder bow-tie over the same graph: all SCCs tie at size 3 so
    the smallest scc id (node 2, group 0) is CORE; its tail (3, 4)
    is OUT; every other group is OTHER (nothing reaches into a
    cycle)."""
    from ferenda_spark.operators.graphs import bowtie_classes, scc_labels
    e = _scc_edges(spark, sf_dir)
    return bowtie_classes(e, scc_labels(e)).orderBy("node")


def _q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering keys over two 8-bit closed-form
    dimensions (doc_id%256, (doc_id*7+3)%256) with 16 buckets — the
    two-dimensional file-pruning layout; bit math mirrored verbatim
    in the oracle."""
    from ferenda_spark.operators.store import zorder_keys
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    df = d.select("doc_id", (did % 256).alias("x"),
                  ((did * 7 + 3) % 256).alias("y"))
    return (zorder_keys(df, "x", "y", bits=8, bucket_bits=4)
            .orderBy("doc_id"))


def _q_recrawl_schedule(spark, sf_dir):
    """Cho–Garcia-Molina recrawl scheduling over a closed-form fetch
    log: 4 visits at interval (1+doc_id%5)*3600 s (single visit when
    doc_id%4==3); the content hash increments at visit j in 1..3 iff
    (doc_id div j)%2==0, so n_changes = c1+c2+c3 and every estimator
    branch (X=0 -> max wait, X=3 -> min clamp) is exercised; the
    oracle replays the exact IEEE ln/divisions."""
    from ferenda_spark.operators.crawl import recrawl_schedule
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    nv = F.when(did % 4 == 3, 0).otherwise(3)
    obs = d.select(did.alias("doc_id"),
                   F.explode(F.sequence(F.lit(0), nv)).alias("k"))
    k = F.col("k")

    def chg(j):
        return F.when((F.expr("(doc_id div %d) %% 2" % j) == 0)
                      & (k >= j), 1).otherwise(0)

    iv = (F.lit(1) + F.col("doc_id") % 5) * 3600
    obs = obs.select(
        F.format_string("https://example.org/r/%d", F.col("doc_id"))
        .alias("url"),
        (F.lit(1000000) + k * iv).cast("long").alias("fetch_ts"),
        F.format_string("c%d", chg(1) + chg(2) + chg(3))
        .alias("content_hash"))
    return recrawl_schedule(obs).orderBy("url")


def _q_url_templates(spark, sf_dir):
    """URL template mining + trap signals over three closed-form page
    families per host s(doc_id%4): /item/{n}/view (distinct content),
    /cal/{n}/{n} (a calendar trap: one shared content hash), and
    /doc/{h} (8-hex-char ids, content = c(doc_id%10)); the oracle
    groups the same closed-form templates."""
    from ferenda_spark.operators.crawl import url_templates
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.format_string("s%d.example.org", did % 4)
    r = did % 3
    path = (F.when(r == 0, F.format_string("/item/%d/view",
                                           did % 100000))
            .when(r == 1, F.format_string("/cal/%d/%d",
                                          did % 12 + 1, did % 28 + 1))
            .otherwise(F.format_string("/doc/%08x", did % 1000000)))
    h = (F.when(r == 0, F.format_string("c%d", did))
         .when(r == 1, F.lit("cal"))
         .otherwise(F.format_string("c%d", did % 10)))
    urls = d.select(
        F.concat(F.lit("https://"), host, path).alias("url"),
        h.alias("content_hash"))
    return (url_templates(urls, hash_col="content_hash")
            .orderBy("template"))


def _q_param_significance(spark, sf_dir):
    """DUST-rule mining over planted query parameters: every doc
    yields 4 URLs crossing page in {1,2} x sessionid suffix in
    {a,b}; content hash depends on (doc_id, page) only.  Expected
    verdicts: `page` significance_ppm 1000000 (selects content), `sessionid`
    0.0 (droppable) — per host, so the frontier's canonicalization
    rule is host-scoped like the reference crawler's."""
    from ferenda_spark.operators.crawl import param_significance
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"),
        did.cast("string"))
    combo = F.explode(F.array(*[
        F.struct(F.lit(p).alias("p"), F.lit(v).alias("v"))
        for p in (1, 2) for v in ("a", "b")])).alias("c")
    urls = (d.select(did.alias("doc_id"), base.alias("_b"), combo)
            .select(
                F.concat(F.col("_b"), F.lit("?page="),
                         F.col("c.p").cast("string"),
                         F.lit("&sessionid=s"),
                         F.col("doc_id").cast("string"),
                         F.col("c.v")).alias("url"),
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit("-"),
                               F.col("c.p").cast("string")))
                .alias("content_hash")))
    return (param_significance(urls).orderBy("host", "param"))


def _q_blocklist_filter(spark, sf_dir):
    """Registrable-suffix blocklist over four planted host families
    (a.b.spam.test / c.spam.test / ok.example.org / good.net) with
    rules [spam.test, bad.org]: subdomains at any depth of a blocked
    suffix are caught, unrelated hosts pass, and the most specific
    matching rule is reported."""
    from ferenda_spark.operators.crawl import blocklist_filter
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = (F.when(did % 4 == 0, F.lit("a.b.spam.test"))
            .when(did % 4 == 1, F.lit("c.spam.test"))
            .when(did % 4 == 2, F.lit("ok.example.org"))
            .otherwise(F.lit("good.net")))
    urls = d.select(F.concat(F.lit("https://"), host, F.lit("/p/"),
                             did.cast("string")).alias("url"))
    bl = spark.createDataFrame([("spam.test",), ("bad.org",)],
                               "domain string")
    return blocklist_filter(urls, bl).orderBy("url")


def _q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins for a classifier whose scores are
    exact binary fractions ((doc_id*37+11)%256 / 256 — so every sum
    and the bin floor are engine-exact) and labels (doc_id*7+3)%10<5;
    the oracle replays the one-groupBy program."""
    from ferenda_spark.operators.quality import calibration_bins
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    scored = d.select(
        (((did * 37 + 11) % 256) / F.lit(256.0)).alias("score"),
        ((did * 7 + 3) % 10 < 5).cast("int").alias("label"))
    return calibration_bins(scored, n_bins=10).orderBy("bin")


def _q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility over the REAL documents table
    (pinned whitespace tokenizer, char and byte lengths); the oracle
    replays the same token/char/byte sums and the two IEEE ratios."""
    from ferenda_spark.operators.textstats import tokenizer_fertility
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    return tokenizer_fertility(docs).orderBy("lang")


def _rules_triples(spark, sf_dir):
    """Closed-form KG for rule mining: every doc (e_i, likes, v_i);
    buys on the same pair unless doc_id%17==0; a decoy buys fact on a
    different object (w_i) when doc_id%17==0 and doc_id%2==0 (so the
    PCA denominator differs from CWA); views when doc_id%5<2."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    s = F.format_string("e%d", did)
    o = F.format_string("v%d", did)
    likes = d.select(s.alias("subj"), F.lit("likes").alias("pred"),
                     o.alias("obj"))
    buys = (d.where(did % 17 != 0)
            .select(s.alias("subj"), F.lit("buys").alias("pred"),
                    o.alias("obj")))
    decoy = (d.where((did % 17 == 0) & (did % 2 == 0))
             .select(s.alias("subj"), F.lit("buys").alias("pred"),
                     F.format_string("w%d", did).alias("obj")))
    views = (d.where(did % 5 < 2)
             .select(s.alias("subj"), F.lit("views").alias("pred"),
                     o.alias("obj")))
    return (likes.unionByName(buys).unionByName(decoy)
            .unionByName(views))


def _q_mined_rules(spark, sf_dir):
    """AMIE-lite single-atom rule mining (support, head coverage, CWA
    and PCA confidence) over the planted likes/buys/views KG; the
    oracle replays the whole relational program (distinct, pair
    self-join, marginals, PCA subject join, exact IEEE ratios)."""
    from ferenda_spark.operators.rules import mine_rules
    return (mine_rules(_rules_triples(spark, sf_dir))
            .orderBy("body_pred", "head_pred"))


def _q_rule_violations(spark, sf_dir):
    """KG-repair work-list: body pairs of every rule with CWA
    confidence >= 0.9 whose head fact is absent (likes=>buys misses
    the doc_id%17==0 pairs, buys=>likes misses the decoy w_i pairs,
    views=>buys misses the %5<2 & %17==0 overlap)."""
    from ferenda_spark.operators.rules import mine_rules, rule_violations
    t = _rules_triples(spark, sf_dir)
    return (rule_violations(t, mine_rules(t), min_confidence=0.9)
            .orderBy("subj", "body_pred", "head_pred"))


def _q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection over four closed-form (host, hash) page
    families: 3 'a' hosts sharing all 7 x-hashes (full mirrors), a
    'boiler' hash served by 23 hosts (> max_hosts_per_hash, so the
    template guard must drop it — without the guard every a-pair
    gains a shared hash and 20 b-hosts appear), and 2 'p' hosts with
    a partial 4-of-6 overlap; the oracle replays the distinct /
    guard / self-join / size-join program."""
    from ferenda_spark.operators.crawl import mirror_hosts
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ah = F.format_string("a%d.example.org", did % 3)
    a = d.select(ah.alias("host"),
                 F.format_string("x%d", F.expr("(doc_id div 3) % 7"))
                 .alias("content_hash"))
    ab = d.select(ah.alias("host"), F.lit("boiler").alias("content_hash"))
    bb = d.select(F.format_string("b%d.example.org", did % 20)
                  .alias("host"), F.lit("boiler").alias("content_hash"))
    p = d.select(F.format_string("p%d.example.org", did % 2).alias("host"),
                 F.format_string(
                     "y%d", (did % 2) * 2 + F.expr("(doc_id div 2) % 6"))
                 .alias("content_hash"))
    pages = a.unionByName(ab).unionByName(bb).unionByName(p)
    return mirror_hosts(pages).orderBy("host_a", "host_b")


def _q_politeness_slots(spark, sf_dir):
    """Per-host politeness fetch slots over a 6-host frontier with
    colliding priorities ((doc_id*13)%50, so the url ASC tie-break is
    exercised); hosts h0-h2 carry robots crawl delays 5/10/15 s,
    h3-h5 fall back to the 10 s default; the oracle replays the
    window + offset arithmetic."""
    from ferenda_spark.operators.crawl import politeness_schedule
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    frontier = d.select(
        F.format_string("https://h%d.example.org/u/%d", did % 6, did)
        .alias("url"),
        F.format_string("h%d.example.org", did % 6).alias("host"),
        ((did * 13) % 50).alias("priority"))
    delays = spark.createDataFrame(
        [("h%d.example.org" % i, 5 * (i + 1)) for i in range(3)],
        "host string, crawl_delay long")
    return (politeness_schedule(frontier, delays, default_delay=10)
            .orderBy("host", "rank"))


def _q_reverb_triples(spark, sf_dir):
    """ReVerb-lite open IE over planted prose: every doc carries one
    instance of four of the five relation phrases with multi-word
    capitalized entity spans (plus a lowercase decoy sentence); both
    engines walk the same leftmost-first regex, so the oracle is a
    regexp_extract_all replay, not a closed form."""
    from ferenda_spark.operators.extract import reverb_triples
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


def _q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between annotator a = l((doc_id*3+1)%4) and b =
    a when doc_id%5<3 else l((doc_id*7)%4) (incidental agreements in
    the disagreeing 2/5 keep po above the planted 0.6); the oracle
    replays the cell-count / long-marginal-product / single-division
    program."""
    from ferenda_spark.operators.quality import cohens_kappa
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    a = F.format_string("l%d", (did * 3 + 1) % 4)
    b = F.when(did % 5 < 3, a).otherwise(
        F.format_string("l%d", (did * 7) % 4))
    return cohens_kappa(d.select(a.alias("label_a"), b.alias("label_b")))


def _q_gini_domains(spark, sf_dir):
    """Gini concentration of documents per domain with a planted hot
    domain owning half the corpus (doc_id%10<5) next to 25 small
    d-domains; the oracle replays the rank formula with long sums and
    the same two IEEE divisions."""
    from ferenda_spark.operators.quality import gini_concentration
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    key = F.when(did % 10 < 5, F.lit("big.example.org")).otherwise(
        F.format_string("d%d.example.org", did % 50))
    return gini_concentration(d.select(key.alias("domain")), "domain")


def _q_mojibake(spark, sf_dir):
    """Mojibake triage over planted corruption: doc_id%4 double-UTF-8
    pairs, %3 replacement chars, %2 C1 controls appended to a clean
    x-run (empty text at %9==0 exercises the NULL ratio); the oracle
    rebuilds the identical text with repeat() and replays the three
    RE2 scans."""
    from ferenda_spark.operators.cleaning import mojibake_stats
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


def _q_stitched_pages(spark, sf_dir):
    """Pagination stitching: 3-page articles (article = doc_id div 3,
    page = doc_id%3+1; page 1 is the bare URL, 2-3 carry ?page=N) with
    page 2 dropped for every 5th article so has_gaps fires; the oracle
    replays the group + ORDER BY (page_no, text) concatenation."""
    from ferenda_spark.operators.crawl import stitch_paginated
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    art = F.expr("doc_id div 3")
    page = did % 3 + 1
    base = F.format_string("https://s%d.example.org/art/%d",
                           art % 4, art)
    url = F.when(page == 1, base).otherwise(
        F.concat(base, F.lit("?page="), page.cast("string")))
    pages = (d.where(~((art % 5 == 0) & (did % 3 == 1)))
             .select(url.alias("url"),
                     F.format_string("P%d", did).alias("text")))
    return stitch_paginated(pages).orderBy("base_url")


def _q_soft404(spark, sf_dir):
    """Soft-404 detection over 5 hosts with known error-template
    hashes: doc_id%11==0 serves its host's error hash, %13==0 carries
    a not-found title (%143==0 triggers both); the oracle replays the
    broadcast probe join + title regex."""
    from ferenda_spark.operators.crawl import soft404
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    pages = d.select(
        F.format_string("https://s%d.example.org/p/%d", did % 5, did)
        .alias("url"),
        F.format_string("s%d.example.org", did % 5).alias("host"),
        F.when(did % 11 == 0, F.format_string("err%d", did % 5))
        .otherwise(F.format_string("c%d", did)).alias("content_hash"),
        F.when(did % 13 == 0, F.lit("Page Not Found"))
        .otherwise(F.format_string("Doc %d", did)).alias("title"))
    probes = spark.createDataFrame(
        [("s%d.example.org" % i, "err%d" % i) for i in range(5)],
        "host string, probe_hash string")
    return soft404(pages, probes).orderBy("url")


def _q_property_coverage(spark, sf_dir):
    """Schema-completeness profile of the REAL extracted KG: per
    (class, predicate) the fraction of the class's entities carrying
    the predicate (sameAs sits at 3/4 by construction, core doc
    predicates at 1.0); the oracle replays the distinct/join/groupBy
    program over the closed-form triple CTEs."""
    from ferenda_spark.operators.quality import property_coverage
    return (property_coverage(_triples(spark, sf_dir))
            .orderBy("cls", "pred"))


def _q_domain_quality_eb(spark, sf_dir):
    """Empirical-Bayes shrunk per-domain quality: scores are exact
    binary fractions ((doc_id*53+7)%256/256, so every sum is exact and
    order-free), a hot domain owns 30% of docs; the oracle replays the
    global-mean division and the (sum + alpha*m)/(n + alpha) shrink."""
    from ferenda_spark.operators.quality import eb_domain_quality
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    domain = F.when(did % 10 < 3, F.lit("hot.example.org")).otherwise(
        F.format_string("d%d.example.org", did % 17))
    scored = d.select(
        domain.alias("domain"),
        (((did * 53 + 7) % 256) / F.lit(256.0)).alias("score"))
    return eb_domain_quality(scored, alpha=20.0).orderBy("domain")


def _q_rake_keyphrases(spark, sf_dir):
    """RAKE-lite keyphrases over planted stopword-delimited prose
    ('alphaA beta of gammaG and alphaA beta epsilonE' -> three phrases
    with distinct fixed-point scores 5M/1M/8M); the oracle replays the
    whole token/run/degree/ratio/rank program in SQL."""
    from ferenda_spark.operators.textstats import rake_keyphrases
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    text = F.format_string(
        "alpha%d beta of gamma%d and alpha%d beta epsilon%d",
        did % 5, did % 7, did % 5, did % 3)
    docs = d.select(
        F.format_string("https://example.org/docs/%d", did).alias("url"),
        text.alias("text"))
    return rake_keyphrases(docs, top_k=3).orderBy("url", "rank")


def _q_transition_matrix(spark, sf_dir):
    """First-order event-type transition matrix over the REAL events
    table ((ts, event_id) total order per user); the oracle replays
    the LEAD window + row-normalization."""
    from ferenda_spark.operators.events import transition_matrix
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    return transition_matrix(ev).orderBy("from_type", "to_type")


def _q_budget_allocation(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a 1000-fetch budget
    across 23 hosts weighted by document count; the oracle replays the
    single-division quotas, floors, and fractional-remainder ranks."""
    from ferenda_spark.operators.crawl import allocate_crawl_budget
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    hosts = (d.select(F.format_string("h%d.example.org", did % 23)
                      .alias("host"))
             .groupBy("host")
             .agg(F.count(F.lit(1)).cast("long").alias("weight")))
    return allocate_crawl_budget(hosts, budget=1000).orderBy("host")


def _q_psi_drift(spark, sf_dir):
    """PSI drift between a full-range reference score distribution
    ((doc_id*37+11)%256/256) and a top-half-only current one
    (0.5 + (doc_id*91+5)%128/256 -- bins 0-4 empty on the actual side,
    exercising the NULL-contrib path); the oracle replays the bin
    shares and (q-p)*ln(q/p)."""
    from ferenda_spark.operators.quality import psi_drift
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    expected = d.select(
        (((did * 37 + 11) % 256) / F.lit(256.0)).alias("score"))
    actual = d.select(
        (F.lit(0.5) + ((did * 91 + 5) % 128) / F.lit(256.0))
        .alias("score"))
    return psi_drift(expected, actual, n_bins=10).orderBy("bin")


def _q_pred_functionality(spark, sf_dir):
    """PARIS predicate functionality over the REAL extracted KG
    (dcterms predicates are functional at 1.0; mention/link predicates
    are set-valued); the oracle replays distinct-pair counts and the
    two divisions."""
    from ferenda_spark.operators.quality import predicate_functionality
    return (predicate_functionality(_triples(spark, sf_dir))
            .orderBy("pred"))


def _q_schema_graph(spark, sf_dir):
    """ABSTAT-style schema graph of the REAL extracted KG: distinct
    (subject class, predicate, object class) signatures with triple
    counts, literals folded to <literal>; the oracle replays the
    distinct/two-join/groupBy program over the triple CTEs."""
    from ferenda_spark.operators.graphs import schema_graph
    return (schema_graph(_triples(spark, sf_dir))
            .orderBy("subj_cls", "pred", "obj_cls"))


def _q_transe_eval(spark, sf_dir):
    """TransE link-prediction ranking over closed-form INTEGER
    embeddings (entity i -> [i%7, i%11, i%13, i%17]; relation j ->
    [j, j+1, 2j, 3-j]) and planted test triples (e(i), r(i%3),
    e((2i+1)%50)); the oracle expands the 4 components and replays
    the L1 scores, tie-broken ranks, hit@10, and reciprocal ranks."""
    from ferenda_spark.operators.graphs import transe_rank
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ids = d.select((did % 50).alias("i")).distinct()
    i = F.col("i")
    ent = ids.select(
        F.format_string("e%d", i).alias("entity"),
        F.array((i % 7).cast("long"), (i % 11).cast("long"),
                (i % 13).cast("long"), (i % 17).cast("long"))
        .alias("vec"))
    rel = spark.createDataFrame(
        [("r%d" % j, [j, j + 1, 2 * j, 3 - j]) for j in range(3)],
        "relation string, vec array<long>")
    test = d.select(
        F.format_string("e%d", did % 50).alias("subj"),
        F.format_string("r%d", did % 3).alias("pred"),
        F.format_string("e%d", (did * 2 + 1) % 50).alias("obj")
    ).distinct()
    return (transe_rank(test, ent, rel, k=10)
            .orderBy("subj", "pred", "obj"))


def _q_length_buckets(spark, sf_dir):
    """Token-length bucketing audit over the REAL documents table
    (64-token linear buckets capped at 15, integer arithmetic, one
    padding-fraction division per bucket); the oracle replays the
    pinned-whitespace token counts and bucket sums."""
    from ferenda_spark.operators.training import length_buckets
    docs = _read(spark, sf_dir, "documents").select("text")
    return length_buckets(docs).orderBy("bucket")


def _q_compression_ratio(spark, sf_dir):
    """DEFLATE compressibility per document over the REAL documents
    table (Arrow-batched zlib kernel -- no SQL equivalent, so the
    gate records a rows-only check; pytest pins exact parity against
    local zlib)."""
    from ferenda_spark.operators.cleaning import compression_ratio
    docs = _read(spark, sf_dir, "documents")
    docs = docs.select(
        F.format_string("https://example.org/docs/%d",
                        F.col("doc_id")).alias("url"), "text")
    return compression_ratio(docs).orderBy("url")


def _q_inverse_rules(spark, sf_dir):
    """Inverse-predicate mining over a planted parent_of/child_of KG
    (child_of missing for doc_id%13==0, a likes overlay on %4==0, a
    symmetric knows on %6==0 that must NOT appear); the oracle
    replays the distinct/flipped-join/marginal program."""
    from ferenda_spark.operators.rules import mine_inverse_rules
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    a = F.format_string("a%d", did)
    b = F.format_string("b%d", did)

    def tri(df, s, pred, o):
        return df.select(s.alias("subj"), F.lit(pred).alias("pred"),
                         o.alias("obj"))

    t = (tri(d, a, "parent_of", b)
         .unionByName(tri(d.where(did % 13 != 0), b, "child_of", a))
         .unionByName(tri(d.where(did % 4 == 0), a, "likes", b))
         .unionByName(tri(d.where(did % 6 == 0), a, "knows", b))
         .unionByName(tri(d.where(did % 6 == 0), b, "knows", a)))
    return (mine_inverse_rules(t)
            .orderBy("body_pred", "head_pred"))


def _q_rocchio(spark, sf_dir):
    """Rocchio pseudo-relevance-feedback expansion for the same three
    BM25 information needs (top-5 feedback docs, top-3 expansion
    terms by the all-integer tf/df/term key); the oracle replays the
    BM25 feedback window, the stopword/query-term filters, and the
    corpus-df pass."""
    from ferenda_spark.operators.search import rocchio_expansion
    needs = spark.createDataFrame(
        [("q_spark", "spark"), ("q_spark", "window"),
         ("q_cust", "customer"), ("q_cust", "join"),
         ("q_vec", "vector"), ("q_vec", "merge"), ("q_vec", "batch")],
        "query string, term string")
    return (rocchio_expansion(_read(spark, sf_dir, "documents")
                              .select("doc_id", "text"), needs,
                              top_docs=5, top_terms=3)
            .orderBy("query", "rank"))


def _kg_typed_triples(spark, sf_dir):
    """Closed-form KG for type inference: people p_i (typed Person
    unless doc_id%3==0) with works_at always + born_in on evens +
    name always; orgs o_i (typed Org unless doc_id%5==0) with
    located_in + name."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    p = F.format_string("p%d", did)
    o = F.format_string("o%d", did)

    def tri(df, s, pred, obj):
        return df.select(s.alias("subj"), F.lit(pred).alias("pred"),
                         obj.alias("obj"))

    return (tri(d.where(did % 3 != 0), p, T, F.lit("Person"))
            .unionByName(tri(d.where(did % 5 != 0), o, T, F.lit("Org")))
            .unionByName(tri(d, p, "works_at", o))
            .unionByName(tri(d.where(did % 2 == 0), p, "born_in",
                             F.format_string("x%d", did % 9)))
            .unionByName(tri(d, p, "name",
                             F.format_string("N%d", did)))
            .unionByName(tri(d, o, "located_in",
                             F.format_string("c%d", did % 11)))
            .unionByName(tri(d, o, "name",
                             F.format_string("M%d", did))))


def _q_type_inference(spark, sf_dir):
    """SDType-style type inference over the planted Person/Org KG:
    untyped p_i (doc_id%3==0) and o_i (%5==0) score classes by
    fixed-point predicate-vote weights; the oracle replays the
    statistics and the argmax window."""
    from ferenda_spark.operators.quality import infer_types
    return (infer_types(_kg_typed_triples(spark, sf_dir))
            .orderBy("entity"))


def _q_bot_signals(spark, sf_dir):
    """Inter-event timing regularity over the REAL events table
    (microsecond gaps, decimal(38,0) sums for the gap-squared
    moment); the oracle replays the lag window and the cv2
    arithmetic."""
    from ferenda_spark.operators.events import bot_signals
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    return bot_signals(ev, min_events=5).orderBy("user_id")


def _q_rel_canonical(spark, sf_dir):
    """rel=canonical election over planted variant groups of 4 (the
    leader declares itself -- excluded; every 7th group's leader is
    missing from the corpus so target_in_corpus is false); the oracle
    replays the regexp extraction and the fetched-set join."""
    from ferenda_spark.operators.crawl import rel_canonical
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    grp = F.expr("(doc_id div 4) * 4")
    target = (F.when(F.expr("doc_id div 4") % 7 == 0,
                     F.format_string("https://ex.org/missing/%d",
                                     F.expr("doc_id div 4")))
              .otherwise(F.format_string("https://ex.org/p/%d", grp)))
    pages = d.select(
        F.format_string("https://ex.org/p/%d", did).alias("url"),
        F.concat(F.lit('<html><head><link rel="canonical" href="'),
                 target, F.lit('"></head><body>x</body></html>'))
        .alias("html"))
    return rel_canonical(pages).orderBy("canonical_url")


def _q_lang_outliers(spark, sf_dir):
    """Host-language consistency over the REAL documents table (hosts
    from the corpus's hot/cold URL rule, languages as planted);
    the oracle replays the (host, lang) counts, the majority window,
    and the purity division."""
    from ferenda_spark.operators.cleaning import lang_outliers
    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    host = F.when(F.col("doc_id") % 10 < 3,
                  F.lit("hot.example.org")).otherwise(
        F.lit("example.org"))
    return (lang_outliers(d.select(host.alias("host"), "lang"))
            .orderBy("host", "lang"))


def _q_sim_pq_topk(spark, sf_dir):
    """PQ-ADC top-5 over the REAL embeddings (m=16 subspaces x 8
    codewords, sampled-point codebooks from vec_ids j*37+5); the
    oracle replays the encoding argmin and the per-query distance
    table from the same codeword rows."""
    from ferenda_spark.operators.similarity import pq_topk
    emb = _read(spark, sf_dir, "embeddings")
    return (pq_topk(emb, [0, 7, 42, 123], k_nn=5, m=16, k=8, dim=64)
            .orderBy("query_id", "rank"))


def _q_kg_fs_linkage(spark, sf_dir):
    """Fellegi-Sunter record linkage over planted person records
    (left = closed-form name/year/city; right = the same records with
    year perturbed on doc_id%5==0 and city on doc_id%7==0), blocked on
    name; u-probabilities are frequency-estimated from the right side,
    m-probabilities are fixed model parameters; the oracle replays the
    collision sums and the log2 weight arithmetic."""
    from ferenda_spark.operators.linking import fs_linkage
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    name = F.format_string("p%d", (did * 7) % 101)
    left = d.select(
        did.alias("left_id"), name.alias("block_key"),
        name.alias("name"),
        (F.lit(1950) + (did * 13) % 70).cast("long").alias("year"),
        F.format_string("c%d", did % 13).alias("city"))
    right = d.select(
        (did + 1000000).alias("right_id"), name.alias("block_key"),
        name.alias("name"),
        (F.lit(1950) + (did * 13) % 70
         + F.when(did % 5 == 0, 1).otherwise(0)).cast("long")
        .alias("year"),
        F.format_string(
            "c%d", F.when(did % 7 == 0, (did + 1) % 13)
            .otherwise(did % 13)).alias("city"))
    return (fs_linkage(left, right, ["name", "year", "city"],
                       {"name": 0.95, "year": 0.9, "city": 0.85},
                       upper=4.0, lower=0.0)
            .orderBy("left_id", "right_id"))


def _q_stats_cusum(spark, sf_dir):
    """Page's CUSUM over the REAL events table's per-type daily
    counts (prefix-sum/prefix-extremum closed form, mu/sigma from
    exact integer sums); the oracle replays the two cumulative
    windows and the h threshold."""
    from ferenda_spark.operators.events import cusum_alarms
    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return cusum_alarms(ev).orderBy("event_type", "day")


def _q_text_zipf_fit(spark, sf_dir):
    """Per-language Zipf fit over the REAL documents (top-100 token
    ranks, ln-ln OLS); the oracle replays the token counts, the
    rank window, and the moment-sum regression."""
    from ferenda_spark.operators.textstats import zipf_fit
    d = _read(spark, sf_dir, "documents").select("lang", "text")
    return zipf_fit(d).orderBy("lang")


def _q_text_heaps_law(spark, sf_dir):
    """Per-source Heaps'-law fit over the REAL documents (vocabulary
    growth from first-occurrence doc aggregation, no per-token global
    order); the oracle replays the first-doc groupBy, the two
    cumulative windows, and the regression."""
    from ferenda_spark.operators.textstats import heaps_fit
    d = _read(spark, sf_dir, "documents").select(
        "source", "doc_id", "text")
    return heaps_fit(d).orderBy("source")


def _q_stats_ks_lengths(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov over the REAL documents: does
    src0's length distribution differ from src1's?  The oracle
    replays the merged-ECDF windows (D kept in integer cross-products
    until the final division) and the 20-term Kolmogorov p series."""
    from ferenda_spark.operators.quality import ks_two_sample
    d = _read(spark, sf_dir, "documents").select("source", "n_chars")
    return ks_two_sample(d, "source", "n_chars", "src0", "src1")


def _q_stats_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (midrank ties, tie-corrected z) between the
    value distributions of click vs view events; the oracle replays
    the distinct-value midrank blocks — 2*R_a stays an exact long in
    both engines."""
    from ferenda_spark.operators.quality import mann_whitney
    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    return mann_whitney(ev, "event_type", "value", "click", "view")


def _q_stats_acf_daily(spark, sf_dir):
    """Lag-1..7 autocorrelation of the per-type daily event counts
    (calendar-day pairing, exact integer moment sums); the oracle
    replays the day+k self-joins and the closed-form correlation."""
    from ferenda_spark.operators.events import acf_daily
    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return acf_daily(ev, max_lag=7).orderBy("event_type", "lag")


def _q_stats_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend of the per-type daily counts (median
    pairwise slope, Conover intercept, exact rank-picked medians);
    the oracle replays the pair join and the two-middle-order-
    statistic median."""
    from ferenda_spark.operators.events import theil_sen_trend
    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return theil_sen_trend(ev).orderBy("event_type")


def _q_kg_modularity(spark, sf_dir):
    """Newman modularity of the 4-round label-propagation partition
    over the planted two-community graph (same structure as
    kg_label_prop); the oracle unrolls the same 4 rounds and replays
    the exact-integer e_c / D_c / m counters."""
    from ferenda_spark.operators.graphs import (label_propagation,
                                                modularity)
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))

    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))

    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(0, 2))
             .unionByName(_e(2, 5)).unionByName(_e(5, 6))
             .unionByName(_e(6, 7)).unionByName(_e(5, 7)))
    comms = label_propagation(edges, rounds=4)
    return modularity(edges, comms).orderBy("community")


def _q_text_textrank(spark, sf_dir):
    """TextRank keywords over the REAL documents (window-2 weighted
    co-occurrence graph per language, 3 synchronous weighted-PageRank
    rounds, per-round 9-decimal re-rounding); the oracle replays the
    position joins and unrolls the same 3 rounds."""
    from ferenda_spark.operators.textstats import textrank_keywords
    d = _read(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text")
    return (textrank_keywords(d, window=2, iters=3, top_k=10)
            .orderBy("lang", "rank"))


def _q_kg_wl_colors(spark, sf_dir):
    """1-WL color refinement over the planted triangle+chain+edge
    blocks (structural node fingerprints: triangle corners, chain
    links, pendant and isolated-edge endpoints all separate); the
    oracle unrolls the same 3 md5-of-sorted-neighbor-colors rounds."""
    from ferenda_spark.operators.graphs import wl_colors
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))

    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))

    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(0, 2))
             .unionByName(_e(2, 3)).unionByName(_e(3, 4))
             .unionByName(_e(4, 5)).unionByName(_e(6, 7)))
    return wl_colors(edges, rounds=3).orderBy("node")


def _q_stats_chi2_lang_source(spark, sf_dir):
    """Chi-square independence of lang x source over the REAL
    documents (closed form from observed cells only, integer
    marginals) with Cramér's V; the oracle replays the contingency
    cells and the N*(sum O^2/(R*C) - 1) identity."""
    from ferenda_spark.operators.quality import chi2_independence
    d = _read(spark, sf_dir, "documents").select("lang", "source")
    return chi2_independence(d, "lang", "source")


def _q_kg_betweenness(spark, sf_dir):
    """Exact Brandes betweenness over the planted triangle+chain+edge
    blocks (all nodes as sources; components are 8 nodes, so exact is
    sane).  The oracle is the CLOSED-FORM truth of the block
    structure — per offset: bridge corners 2 and 3 carry 6 pair
    dependencies each, chain link 4 carries 4, everything else 0
    (networkx betweenness_centrality(normalized=False) parity,
    asserted in tests)."""
    from ferenda_spark.operators.graphs import betweenness
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))

    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))

    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(0, 2))
             .unionByName(_e(2, 3)).unionByName(_e(3, 4))
             .unionByName(_e(4, 5)).unionByName(_e(6, 7)))
    return betweenness(edges).orderBy("node")


def _q_sim_maxsim_topk(spark, sf_dir):
    """ColBERT-style MaxSim retrieval over the REAL documents with
    md5-derived deterministic token vectors (query: spark/join/
    filter); the oracle replays the vocabulary-sized cosine table and
    the max-then-sum late interaction."""
    from ferenda_spark.operators.similarity import maxsim_topk
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (maxsim_topk(d, ["spark", "join", "filter"],
                        dim=8, top_k=20)
            .orderBy("rank"))


def _q_kg_ktruss(spark, sf_dir):
    """3-truss of the planted triangle+chain+edge blocks: only the
    triangle's three edges survive the support-peeling fixpoint (each
    supported by exactly one triangle); chains and the isolated edge
    vanish.  The oracle is the closed-form truth (networkx
    k_truss(G, 3) parity, asserted in tests)."""
    from ferenda_spark.operators.graphs import ktruss
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))

    def _e(i, j):
        return b.select((F.col("b") + i).alias("doc_a"),
                        (F.col("b") + j).alias("doc_b"))

    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(0, 2))
             .unionByName(_e(2, 3)).unionByName(_e(3, 4))
             .unionByName(_e(4, 5)).unionByName(_e(6, 7)))
    return ktruss(edges, k=3).orderBy("node_a", "node_b")


def _q_text_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between src0's and src1's token
    unigram distributions over the REAL documents; the oracle replays
    the tagged token counts and the termwise p/2*lg(p/m) sum."""
    from ferenda_spark.operators.textstats import js_divergence
    d = _read(spark, sf_dir, "documents").select("source", "text")
    return js_divergence(d, "source", "src0", "src1")


def _q_text_yules_k(spark, sf_dir):
    """Yule's characteristic K per language over the REAL documents
    (repeat-rate vocabulary richness from exact S1/S2 long sums, with
    type and hapax counts); the oracle replays the token counts and
    the 10^4*(S2-S1)/S1^2 identity."""
    from ferenda_spark.operators.textstats import yules_k
    d = _read(spark, sf_dir, "documents").select("lang", "text")
    return yules_k(d).orderBy("lang")


def _q_stats_benford(spark, sf_dir):
    """First-significant-digit distribution of positive event values
    vs Benford's law (arithmetic digit extraction, nine-group
    aggregate, absent digits kept at n=0); the oracle replays the
    floor(v/10^floor(log10 v)) projection and the log10(1+1/d)
    expectation."""
    from ferenda_spark.operators.quality import benford_digits
    ev = _read(spark, sf_dir, "events").select("value")
    return benford_digits(ev, "value").orderBy("digit")


def _q_stats_bootstrap_mean(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the mean purchase value (100
    deterministic md5-seeded Poisson(1) replicates, exact
    integer-cents sums, rank-picked percentile CI); the oracle
    replays the inverse-CDF weights and the order statistics."""
    from ferenda_spark.operators.quality import bootstrap_mean
    ev = (_read(spark, sf_dir, "events")
          .where(F.col("event_type") == "purchase")
          .select("event_id", "value"))
    return bootstrap_mean(ev, "event_id", "value", n_boot=100)


def _q_train_leakage_check(spark, sf_dir):
    """Train/eval near-dup leakage: eval docs whose MinHash-LSH
    duplicate cluster contains a train doc (the dedup-before-split
    contamination check); composes the LSH pair graph, hash-min
    clusters, and the portable-md5 split.  Oracle: recursive-CTE
    reachability over the same pair graph joined to the split CTE."""
    from ferenda_spark.operators.training import split_leakage
    return (split_leakage(_read(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


def _q_stats_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival of time-to-first-purchase (hours from a
    user's first event, right-censored at the 72 h fixed-follow-up
    cutoff): product-limit estimator via exp-sum-log over suffix-
    cumulative at-risk counts; the oracle replays the truncated-epoch
    durations and the same product identity."""
    from ferenda_spark.operators.events import (kaplan_meier,
                                                time_to_event)
    subj = time_to_event(_read(spark, sf_dir, "events"),
                         target_type="purchase", followup_hours=72)
    return kaplan_meier(subj).orderBy("t")


def _q_events_sequence_mining(spark, sf_dir):
    """Frequent contiguous 3-step event-type sequences (contiguous
    PrefixSpan): per-user lead() trigrams, one corpus-wide count with
    distinct-user support; the oracle replays the lead window and the
    two aggregates."""
    from ferenda_spark.operators.events import event_sequences
    return (event_sequences(_read(spark, sf_dir, "events"))
            .orderBy("step_1", "step_2", "step_3"))


def _q_store_compaction_plan(spark, sf_dir):
    """Small-file compaction plan over a per-source file manifest
    (file = doc, size = n_chars; threshold 400 B so both branches are
    exercised, target 1000 B): first-fit-on-cumulative-sum binning
    per partition; the oracle replays the preceding-small-bytes
    window and the floor division."""
    from ferenda_spark.operators.store import compaction_plan
    files = (_read(spark, sf_dir, "documents")
             .select("source", F.col("doc_id").alias("file_id"),
                     F.col("n_chars").alias("size_bytes")))
    return (compaction_plan(files, key_cols=["source"],
                            target_bytes=1000, small_threshold=400)
            .orderBy("source", "file_id"))


def _q_text_llr_collocations(spark, sf_dir):
    """Dunning log-likelihood-ratio collocations over the REAL
    documents (adjacent bigrams, exact long contingency cells,
    per-row xlx expression rounded to 6 before the top-100 ranked
    cut); the oracle replays the margins and the 9-term identity."""
    from ferenda_spark.operators.textstats import llr_collocations
    d = _read(spark, sf_dir, "documents").select("text")
    return (llr_collocations(d, min_count=3, top_n=100)
            .orderBy("rank"))


def _q_kg_harmonic_centrality(spark, sf_dir):
    """Sampled harmonic centrality over the citation graph (edges
    d -> d+1 / d -> d+2, seeds every 100th doc, 3 hops): labeled
    all-seeds-simultaneous BFS, then sum(1/d) per node.  Oracle:
    d(s, n) = ceil((n-s)/2) closed-form for 1 <= n-s <= 6."""
    from ferenda_spark.operators.graphs import harmonic_centrality
    d = _read(spark, sf_dir, "documents")
    e1 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 1).alias("doc_b"))
    e2 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 2).alias("doc_b"))
    seeds = (d.where(F.col("doc_id") % 100 == 0)
             .select(F.col("doc_id").alias("node")))
    return (harmonic_centrality(e1.unionByName(e2), seeds, max_hops=3)
            .orderBy("node"))




def _q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient over the planted entity/topic/
    publisher tripartite graph: every doc closes an (entity, topic,
    publisher) triangle, so community structure is dense and the
    closed-form oracle replays degree/triangle counts exactly.
    All-integer coeff (permille, integer div) -> hash-exact."""
    from ferenda_spark.operators.graphs import clustering_coefficient
    d = _read(spark, sf_dir, "documents")
    e = F.concat(F.lit("e"), (F.col("doc_id") % 50).cast("string"))
    t = F.concat(F.lit("t"), (F.col("doc_id") % 11).cast("string"))
    p = F.concat(F.lit("p"), (F.col("doc_id") % 7).cast("string"))
    edges = (d.select(e.alias("node_a"), t.alias("node_b"))
             .unionByName(d.select(t.alias("node_a"), p.alias("node_b")))
             .unionByName(d.select(e.alias("node_a"), p.alias("node_b"))))
    return clustering_coefficient(edges).orderBy("node")


def _q_trap_detection(spark, sf_dir):
    """Crawler-trap scoring over four planted URL families (benign
    shallow path / self-similar repeating path / calendar archive /
    parameter explosion); the oracle replays the same closed-form
    shapes.  Day segment is planted >= 13 and the leaf id prefixed
    so no accidental segment collisions perturb dup counts."""
    from ferenda_spark.operators.crawl import trap_detection
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sid = did.cast("string")
    shape = did % 4
    url = (F.when(shape == 0,
                  F.concat(F.lit("https://example.org/docs/"),
                           F.col("source"), F.lit("/"), sid))
           .when(shape == 1,
                 F.concat(F.lit("https://example.org/a/b/a/b/a/b/c/item"),
                          sid))
           .when(shape == 2,
                 F.concat(F.lit("https://example.org/archive/2020/"),
                          (1 + did % 12).cast("string"), F.lit("/"),
                          (13 + did % 16).cast("string"),
                          F.lit("/item"), sid))
           .otherwise(
                 F.concat(F.lit("https://example.org/docs/"),
                          F.col("source"), F.lit("/"), sid,
                          F.lit("?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7"
                                "&p8="), sid)))
    return (trap_detection(d.select(url.alias("url")))
            .orderBy("url"))


def _q_ngram_novelty(spark, sf_dir):
    """Token-trigram novelty per document vs everything earlier in
    ingest order (min-doc_id first occurrence): the marginal-
    information curation signal; oracle replays the explode /
    first-occurrence / integer-permille pipeline."""
    from ferenda_spark.operators.textstats import ngram_novelty
    return (ngram_novelty(_read(spark, sf_dir, "documents")
                          .select("doc_id", "text"), n=3)
            .orderBy("doc_id"))


def _q_sliding_distinct(spark, sf_dir):
    """Trailing-7-day distinct active users per observed day (the
    DAU/WAU series) via dedup-then-bounded-explode; oracle is the
    declarative range join over the same deduped (user, day) set."""
    from ferenda_spark.operators.events import sliding_distinct
    return (sliding_distinct(_read(spark, sf_dir, "events"),
                             window_days=7)
            .orderBy("day"))


def _q_search_phrase(spark, sf_dir):
    """Positional phrase query ("batch batch") over the corpus: the
    word-salad corpus repeats tokens, so overlapping runs occur
    naturally and the positional count (not a substring replace
    count) is what the oracle replays."""
    from ferenda_spark.operators.search import phrase_search
    return (phrase_search(_read(spark, sf_dir, "documents"),
                          "batch batch")
            .orderBy("doc_id"))


def _q_search_fuzzy(spark, sf_dir):
    """SymSpell edit-distance-1 lookup: vocab = corpus tokens with
    frequency; queries = deterministic typos (append 'x' / drop last
    char) of every token of length >= 3.  The oracle verifies via a
    plain levenshtein cross join — tiny at test scale, which is the
    point: the delete-key join must agree exactly with the naive
    quadratic definition."""
    from ferenda_spark.operators.dedup import tokens
    from ferenda_spark.operators.search import fuzzy_lookup
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


def _q_kg_h_index(spark, sf_dir):
    """Per-series h-index over received-citation counts: cited RFC
    targets bucketed into 10 series by number, score = total
    mentions.  One window rank per series + one aggregate; the
    oracle replays rank/least/max on the same integer counts."""
    from ferenda_spark.operators.graphs import citation_counts, h_index
    cc = citation_counts(_triples(spark, sf_dir))
    items = cc.select(
        F.concat(F.lit("series"),
                 (F.regexp_extract("target_uri", r"rfc/(\d+)", 1)
                  .cast("long") % 10).cast("string")).alias("series"),
        F.col("n_mentions").alias("score"))
    return (h_index(items, group_col="series", score_col="score")
            .withColumnRenamed("group", "series")
            .orderBy("series"))


def _q_kg_reciprocity(spark, sf_dir):
    """Directed-entity-graph reciprocity: each doc plants out-edges
    e(d%50) -> e((3d+1)%50) and e(d%50) -> e((7d+3)%50); mutual
    pairs arise closed-form from the modular algebra and the oracle
    replays the same construction declaratively."""
    from ferenda_spark.operators.graphs import reciprocity
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    a = F.concat(F.lit("e"), (did % 50).cast("string"))
    b1 = F.concat(F.lit("e"), ((did * 3 + 1) % 50).cast("string"))
    b2 = F.concat(F.lit("e"), ((did * 7 + 3) % 50).cast("string"))
    edges = (d.select(a.alias("src"), b1.alias("dst"))
             .unionByName(d.select(a.alias("src"), b2.alias("dst"))))
    return reciprocity(edges).orderBy("node")


def _q_kg_bnode_canonical(spark, sf_dir):
    """RDFC-style canonical blank-node labels over per-doc graphs:
    each doc plants a 3-bnode author/org/member structure with
    doc-varying ARBITRARY bnode names; canonical labels depend only
    on structure (names never enter a hash).  The oracle replays the
    3 hashing rounds in SQL with the same contribution format and
    md5, so labels and hashes match bit-for-bit."""
    from ferenda_spark.operators.rdfio import bnode_canonicalize
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    g = F.concat(F.lit("https://example.org/res/doc/"),
                 did.cast("string"))
    bx = F.concat(F.lit("_:x"), ((did * 7) % 991).cast("string"))
    by = F.concat(F.lit("_:y"), ((did * 13) % 997).cast("string"))
    bz = F.concat(F.lit("_:z"), ((did * 3) % 983).cast("string"))
    lit_author = F.concat(F.lit('"Author '), (did % 13).cast("string"),
                          F.lit('"'))
    lit_org = F.concat(F.lit('"Org '), (did % 7).cast("string"),
                       F.lit('"'))
    lit_member = F.concat(F.lit('"Member '), (did % 5).cast("string"),
                          F.lit('"'))
    def t(s, p, o):
        return F.struct(s.alias("subj"), F.lit(p).alias("pred"),
                        o.alias("obj"))

    # one explode, not a 6-way union: unions stack scan partitions
    # (6 x 32 = 192 tiny tasks feeding every fixpoint round)
    quads = (d.select(
        g.alias("context"),
        F.explode(F.array(
            t(g, "ex:author", bx),
            t(bx, "ex:name", lit_author),
            t(bx, "ex:affiliation", by),
            t(by, "ex:name", lit_org),
            t(bz, "ex:memberOf", by),
            t(bz, "ex:name", lit_member))).alias("q"))
        .select("context", "q.subj", "q.pred", "q.obj"))
    return (bnode_canonicalize(quads, rounds=3)
            .orderBy("context", "canon_label"))


def _q_store_zonemap_prune(spark, sf_dir):
    """Zone-map pruning measured across two physical layouts of the
    SAME rows: ingest-order files (value spread everywhere, nothing
    prunes) vs date-clustered files (predicate skips most files).
    The manifest aggregate + disjointness test are replayed
    closed-form by the oracle."""
    from ferenda_spark.operators.store import zonemap_prune, zonemap_stats
    d = _read(spark, sf_dir, "documents")
    day = ((F.col("doc_id") * 37) % 1461).cast("long")
    ingest = d.select(
        F.concat(F.lit("ingest-"),
                 F.expr("doc_id div 50").cast("string"))
        .alias("file_id"), day.alias("v"))
    clustered = d.select(
        F.concat(F.lit("date-"),
                 F.expr("((doc_id * 37) % 1461) div 150")
                 .cast("string")).alias("file_id"), day.alias("v"))
    out = []
    for label, df in [("ingest", ingest), ("clustered", clustered)]:
        st = zonemap_stats(df, "file_id", "v")
        out.append(zonemap_prune(st, 300, 450)
                   .select(F.lit(label).alias("layout"), "*"))
    return out[0].unionByName(out[1]).orderBy("layout", "file_id")


def _q_events_decayed_counts(spark, sf_dir):
    """Per-user half-life-decayed activity (integer halving kernel,
    7-day half-life, reference = stream max date) — recency priors
    without floating pow."""
    from ferenda_spark.operators.events import decayed_counts
    return (decayed_counts(_read(spark, sf_dir, "events"),
                           half_life_days=7)
            .orderBy("user_id"))


def _q_stats_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg step-up over 50 planted per-entity
    hypotheses in two regimes (a small-p cluster that all reject, a
    linear tail that all survive) — exact integer cross-multiplied
    comparisons, the oracle replays rank/threshold/running-max."""
    from ferenda_spark.operators.quality import bh_fdr
    d = _read(spark, sf_dir, "documents")
    n = (F.col("doc_id") % 50).cast("long")
    tests = (d.select(
        F.concat(F.lit("e"), n.cast("string")).alias("test_id"),
        F.when(n % 5 == 0, n * 97 + 1)
        .otherwise(n * 19801 + 10000).cast("long").alias("p_micro"))
        .distinct())
    return bh_fdr(tests, alpha_micro=50000).orderBy("rank")


def _q_clean_template_clusters(spark, sf_dir):
    """DOM-template clustering: 5 planted server-side templates
    (source_num % 5) with per-doc copy, plus an <aside> outlier
    variant every 17th doc — clusters are closed-form (template,
    outlier) cells and the oracle md5s the same tag sequences."""
    from ferenda_spark.operators.cleaning import template_clusters
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


def _q_text_date_normalize(spark, sf_dir):
    """Textual date normalization over planted prose dates: one
    month-name-first mention ("January 7, 2020", full name) and one
    day-first mention ("12 feb 2021", 3-letter) per doc, both
    emitted closed-form by the oracle."""
    from ferenda_spark.operators.extract import _MONTHS, date_normalize
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


def _q_kg_path_rules(spark, sf_dir):
    """2-hop chain rule mining over a planted author/affiliation/
    works_at KG: author(x,y) ∧ affiliation(y,z) ⇒ works_at(x,z)
    holds for 2/3 of docs by construction (works_at planted only
    when doc_id % 3 != 0), so support / n_body_pairs / confidence
    are closed-form."""
    from ferenda_spark.operators.rules import mine_path_rules
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    doc = F.concat(F.lit("https://example.org/res/doc/"),
                   did.cast("string"))
    person = F.concat(F.lit("p"), (did % 40).cast("string"))
    org = F.concat(F.lit("o"), (did % 8).cast("string"))
    team = F.concat(F.lit("t"), (did % 4).cast("string"))
    grp = F.concat(F.lit("g"), F.expr("(doc_id % 8) div 4"))
    t = (d.select(doc.alias("subj"), F.lit("ex:author").alias("pred"),
                  person.alias("obj"))
         .unionByName(d.select(person.alias("subj"),
                               F.lit("ex:affiliation").alias("pred"),
                               org.alias("obj")))
         .unionByName(d.select(person.alias("subj"),
                               F.lit("ex:member").alias("pred"),
                               team.alias("obj")))
         .unionByName(d.where(did % 3 != 0)
                      .select(doc.alias("subj"),
                              F.lit("ex:works_at").alias("pred"),
                              org.alias("obj")))
         .unionByName(d.select(org.alias("subj"),
                               F.lit("ex:parent_org").alias("pred"),
                               grp.alias("obj")))
         .unionByName(d.where(did % 2 == 0)
                      .select(doc.alias("subj"),
                              F.lit("ex:division").alias("pred"),
                              grp.alias("obj"))))
    return (mine_path_rules(t, min_support=1, max_fanout=1000000)
            .orderBy("body_p1", "body_p2", "head_pred"))


def _q_crawl_warc_revisit(spark, sf_dir):
    """WARC revisit planning over three planted captures per URL:
    first two share a digest (second becomes a revisit pointing at
    the first), third repeats it only when doc_id % 3 == 0 — the
    oracle replays the same per-(url, digest) window."""
    from ferenda_spark.operators.crawl import warc_revisit
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/page/"),
                   did.cast("string"))
    dg1 = F.concat(F.lit("dg"), (did % 2).cast("string"))
    dg3 = F.when(did % 3 == 0, dg1).otherwise(F.lit("dgX"))
    cap = lambda ts, dg: d.select(  # noqa: E731
        url.alias("url"), F.lit(ts).alias("warc_ts"),
        dg.alias("digest"))
    caps = (cap("2024-01-01", dg1)
            .unionByName(cap("2024-01-02", dg1))
            .unionByName(cap("2024-01-03", dg3)))
    return warc_revisit(caps).orderBy("url", "warc_ts")


def _q_kg_heading_outline(spark, sf_dir):
    """h1-h6 outline extraction over planted heading markup (two
    page shapes); parents are closed-form so the oracle emits
    expected rows directly."""
    from ferenda_spark.operators.extract import heading_outline
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


def _q_search_more_like_this(spark, sf_dir):
    """More-like-this over planted vocab docs (a rare token shared
    by ~4 docs, a cluster token shared by ~20, a near-universal
    token dropped by the max_df cap); seeds are every 100th doc."""
    from ferenda_spark.operators.search import more_like_this
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


def _q_train_neyman_allocation(spark, sf_dir):
    """Neyman-optimal allocation of a 100-doc sample budget across
    sources by n_chars dispersion — exact integer variance, floored
    correctly-rounded sqrt, largest-weight remainder assignment."""
    from ferenda_spark.operators.training import neyman_allocation
    return (neyman_allocation(_read(spark, sf_dir, "documents"),
                              sample_n=100)
            .orderBy("stratum"))


def _q_kg_breadcrumbs(spark, sf_dir):
    """Breadcrumb-trail extraction from planted nav markup (Home >
    source > leaf); trail rows and parent edges are closed-form."""
    from ferenda_spark.operators.extract import breadcrumb_trails
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


def _q_kg_katz(spark, sf_dir):
    """Katz centrality (integer halving attenuation, 3 rounds) over
    the planted directed entity multigraph; the oracle replays the
    three join/aggregate rounds exactly."""
    from ferenda_spark.operators.graphs import katz_centrality
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    a = F.concat(F.lit("e"), (did % 50).cast("string"))
    b1 = F.concat(F.lit("e"), ((did * 3 + 1) % 50).cast("string"))
    b2 = F.concat(F.lit("e"), ((did * 7 + 3) % 50).cast("string"))
    edges = (d.select(a.alias("src"), b1.alias("dst"))
             .unionByName(d.select(a.alias("src"), b2.alias("dst"))))
    return katz_centrality(edges, rounds=3).orderBy("node")


def _q_text_code_detection(spark, sf_dir):
    """Code-vs-prose gating: every 5th doc gets a planted C-ish
    snippet (braces/semicolons/indents closed-form), the rest keep
    their prose text (verified free of code punctuation)."""
    from ferenda_spark.operators.textstats import code_detection
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


def _kg_diff_side(d, new: bool):
    did = F.col("doc_id")
    doc = F.concat(F.lit("https://example.org/res/doc/"),
                   did.cast("string"))
    title = F.concat(F.lit("Document "), did.cast("string"),
                     F.when(F.lit(new) & (did % 7 == 0),
                            F.lit(" v2")).otherwise(F.lit("")))
    t = (d.select(doc.alias("subj"), F.lit("dct:title").alias("pred"),
                  title.alias("obj"))
         .unionByName(d.select(
             doc.alias("subj"), F.lit("dct:publisher").alias("pred"),
             F.concat(F.lit("pub"), (did % 7).cast("string"))
             .alias("obj"))))
    subj_rows = d.where(~(F.lit(new) & (did % 13 == 0))).select(
        doc.alias("subj"), F.lit("dct:subject").alias("pred"),
        F.concat(F.lit("topic"), (did % 11).cast("string"))
        .alias("obj"))
    t = t.unionByName(subj_rows)
    if new:
        t = t.unionByName(d.where(did % 11 == 0).select(
            doc.alias("subj"), F.lit("dct:note").alias("pred"),
            F.lit("updated").alias("obj")))
    return t


def _q_kg_graph_diff(spark, sf_dir):
    """Subject-rollup diff of two planted KG versions: every 7th doc
    gets a retitle (modified), every 11th an extra note triple,
    every 13th loses its subject triple; overlapping cases compose —
    the oracle replays the same full-outer join, not an enumeration."""
    from ferenda_spark.operators.rdfio import graph_diff
    d = _read(spark, sf_dir, "documents")
    return (graph_diff(_kg_diff_side(d, False), _kg_diff_side(d, True))
            .orderBy("subj"))


def _q_kg_void_stats(spark, sf_dir):
    """VoID dataset-description triples over the full extracted KG:
    scalar stats + one propertyPartition node per predicate, counts
    as integer literals."""
    from ferenda_spark.catalog import void_stats
    return (void_stats(_triples(spark, sf_dir))
            .orderBy("subj", "pred", "obj"))


def _q_kg_prov_triples(spark, sf_dir):
    """PROV-O lineage triples for planted stage runs (3 stages x
    source): generated-by / derived-from / used / timestamps /
    row counts, all closed-form."""
    from ferenda_spark.operators.incremental import prov_triples
    d = _read(spark, sf_dir, "documents")
    src = (d.groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    runs = None
    for i, stage in enumerate(("fetch", "parse", "distill")):
        r = src.select(
            F.lit(stage).alias("stage"), F.col("source"),
            F.lit("2024-01-0%d00:00:00" % (i + 1)).alias("started"),
            F.lit("2024-01-0%d01:00:00" % (i + 1)).alias("ended"),
            F.col("n_docs").alias("n_out"))
        runs = r if runs is None else runs.unionByName(r)
    return prov_triples(runs).orderBy("subj", "pred", "obj")


def _q_search_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two heterogeneous rankers (keyterm
    tf ranking + query-independent freshness ranking) — integer
    1e6/(60+rank) contributions, oracle replays both rankers and
    the fusion."""
    from pyspark.sql import Window

    from ferenda_spark.operators.search import (ranked_set_baseline,
                                                rrf_fusion)
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


def _q_kg_geo_join(spark, sf_dir):
    """Grid-bucketed radius self-join over planted micro-degree
    coordinates; the oracle is the INDEPENDENT naive quadratic
    join — if the 3x3 neighborhood replication missed a pair, the
    hash would catch it."""
    from ferenda_spark.operators.cleaning import geo_join
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    c = did % 20  # 20 venue clusters, 5000 micro-deg apart
    pts = d.select(
        did.alias("point_id"),
        (c * 5000 + (did * 37) % 400).alias("lat_micro"),
        (((c * 3) % 20) * 5000 + (did * 53) % 400)
        .alias("lon_micro"))
    return (geo_join(pts, radius_micro=1000)
            .orderBy("id_a", "id_b"))


def _q_stats_mad_outliers(spark, sf_dir):
    """Median/MAD robust outliers of n_chars per source (exact
    lower-median order statistics, cross-multiplied comparison)."""
    from ferenda_spark.operators.quality import mad_outliers
    d = _read(spark, sf_dir, "documents")
    return (mad_outliers(d.select(F.col("source").alias("group"),
                                  F.col("n_chars").alias("value")))
            .orderBy("group", "value"))


def _q_kg_inclusion_deps(spark, sf_dir):
    """SINDY inclusion-dependency audit over a planted 4-column
    mined table: values(b)=0..9 ⊆ values(a)=0..19 ⊆ values(d)=0..29,
    values(c)=10..19 ⊆ a and d but disjoint from b's 0..9 only above
    9 — the full 12-pair FK-candidate matrix, the dual of
    kg_fd_discovery's audit."""
    from ferenda_spark.operators.extract import inclusion_deps
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rows = d.select((did % 20).alias("a"), (did % 10).alias("b"),
                    (did % 10 + 10).alias("c"), (did % 30).alias("d"))
    return inclusion_deps(rows, ["a", "b", "c", "d"]) \
        .orderBy("lhs", "rhs")


def _employer_facts(spark, sf_dir):
    """Planted temporal employer facts (shared by
    kg_interval_conflicts and kg_asof_diff)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    return d.select(
        F.concat(F.lit("https://example.org/res/entity/"),
                 (did % 50).cast("string")).alias("subject"),
        F.lit("org:employer").alias("predicate"),
        F.concat(F.lit("https://example.org/res/org/pub"),
                 (did % 7).cast("string")).alias("object"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   ((did * 37) % 1461).cast("int")).alias("valid_from"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   (((did * 37) % 1461) + 60 + (did % 5) * 45)
                   .cast("int")).alias("valid_to"))


def _q_kg_interval_conflicts(spark, sf_dir):
    """Temporal functional-predicate conflicts over planted employer
    facts (20 facts per entity, 60-240 day validity windows): pairs
    with the same (subject, predicate), different object, overlapping
    [from, to) validity — the pre-fusion constraint check."""
    from ferenda_spark.operators.temporal import interval_conflicts
    facts = _employer_facts(spark, sf_dir)
    return (interval_conflicts(facts)
            .select("subject", "predicate", "obj_a", "obj_b",
                    F.date_format("overlap_from", "yyyy-MM-dd")
                    .alias("overlap_from"),
                    F.date_format("overlap_to", "yyyy-MM-dd")
                    .alias("overlap_to"))
            .orderBy("subject", "obj_a", "obj_b", "overlap_from",
                     "overlap_to"))


def _q_kg_conductance(spark, sf_dir):
    """Conductance per community over a planted block graph (blocks
    of 10 chained nodes, one bridge per adjacent block pair):
    interior blocks report cut=2, vol=20, phi=100 permille; the two
    end blocks differ — the NCP-style cluster-quality dual of
    kg_modularity."""
    from ferenda_spark.operators.graphs import conductance
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    chain = (d.where(did % 10 != 9)
             .select(did.alias("doc_a"), (did + 1).alias("doc_b")))
    bridge = (d.where((did % 10 == 5) & (did >= 10))
              .select(did.alias("doc_a"), (did - 10).alias("doc_b")))
    comms = d.select(did.alias("node"),
                     F.expr("doc_id div 10").alias("label"))
    return (conductance(chain.unionByName(bridge), comms)
            .orderBy("community"))


def _q_stats_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 sketch over the real document tokens (16
    estimators, 4 groups of 4), each group row reporting its own
    error against the exact F2 computed from the same count table."""
    from ferenda_spark.operators.dedup import TOKEN_SPLIT
    from ferenda_spark.operators.sketches import ams_f2
    d = _read(spark, sf_dir, "documents")
    toks = d.select(F.explode(
        F.split(F.lower(F.trim("text")), TOKEN_SPLIT)).alias("token"))
    return ams_f2(toks).orderBy("group_id")


def _ranked_metrics(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    return d.select(F.col("source"),
                    F.col("n_chars").cast("long").alias("x"),
                    (F.col("n_chars") * 3 + did % 97).cast("long")
                    .alias("y"),
                    did.alias("id"))


def _q_stats_spearman(spark, sf_dir):
    """Per-source Spearman rho between n_chars and a planted noisy
    monotone transform of it (id-tiebroken ranks, exact tie-free
    closed form, micro-scaled integer)."""
    from ferenda_spark.operators.quality import spearman_rho
    return (spearman_rho(_ranked_metrics(spark, sf_dir), "source",
                         "x", "y", "id")
            .orderBy("group"))


def _q_stats_kendall(spark, sf_dir):
    """Per-source Kendall tau-a on the same id-tiebroken rankings
    (group-keyed pair self-join, exact concordant/discordant
    counters, micro-scaled integer)."""
    from ferenda_spark.operators.quality import kendall_tau
    return (kendall_tau(_ranked_metrics(spark, sf_dir), "source",
                        "x", "y", "id")
            .orderBy("group"))


def _q_mm_exif_meta(spark, sf_dir):
    """Real EXIF decode: JVM-synthesized JPEG+APP1 blobs (116-byte
    little-endian TIFF, 5-entry IFD0 with inline AND offset values)
    -> dependency-free segment/IFD walk in the Arrow pass; every
    field closed-form in doc_id so the oracle recomputes it without
    touching bytes."""
    from ferenda_spark.operators.multimodal import (exif_meta,
                                                    synth_exif_blobs)
    return (exif_meta(synth_exif_blobs(_read(spark, sf_dir,
                                             "documents")))
            .orderBy("doc_id"))


def _gallery_pages(spark, sf_dir):
    """Planted gallery pages: 1-3 <img> tags per doc whose src/alt
    are closed-form in (doc_id, k) — missing alt, boilerplate
    'stock photo', and two good caption shapes."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def img(k):
        case = (did + k) % 4
        alt = (F.when(case == 1, F.lit(' alt="stock photo"'))
               .when(case == 2,
                     F.concat(F.lit(' alt="photo of entity '),
                              (did % 50).cast("string"), F.lit('"')))
               .when(case == 3,
                     F.concat(F.lit(' alt="chart for topic '),
                              (did % 11).cast("string"), F.lit('"')))
               .otherwise(F.lit("")))
        tag = F.concat(
            F.lit('<img src="https://img.example.org/'),
            did.cast("string"), F.lit("/%d.jpg\"" % k), alt,
            F.lit(">"))
        return F.when(did % 3 >= k, tag).otherwise(F.lit(""))

    html = F.concat(F.lit("<html><body><p>Gallery "),
                    did.cast("string"), F.lit("</p>"),
                    img(0), img(1), img(2), F.lit("</body></html>"))
    return d.select(
        F.concat(F.lit("https://example.org/gallery/"),
                 did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"))


def _q_mm_alt_text_pairs(spark, sf_dir):
    """LAION-style image-text pair mining over planted gallery
    pages: real DOM walk emits every <img> in document order; the
    quality gate (>= 2 alt words, not an exact boilerplate string)
    flags rather than drops."""
    from ferenda_spark.operators.multimodal import image_text_pairs
    return (image_text_pairs(_gallery_pages(spark, sf_dir))
            .orderBy("url", "img_idx"))


def _q_events_attribution(spark, sf_dir):
    """Multi-touch attribution over the real event streams: every
    click/view/signup touch assigned to the user's next purchase;
    first/last/linear credit in exact integer permille (linear
    remainder pinned to the closer)."""
    from ferenda_spark.operators.events import attribution
    return (attribution(_read(spark, sf_dir, "events"),
                        channels=["click", "view", "signup"])
            .orderBy("channel"))


def _q_events_paths(spark, sf_dir):
    """Sankey path-prefix rollup: the first 3 events per user,
    aggregated as prefixes at depths 1-3."""
    from ferenda_spark.operators.events import path_prefixes
    return (path_prefixes(_read(spark, sf_dir, "events"), max_depth=3)
            .orderBy("depth", "path"))


def _q_text_kwic(spark, sf_dir):
    """Keyword-in-context concordance for three probe terms over the
    real corpus: map-only tokenize/posexplode/slice, 1-based
    positions, +-3-token contexts."""
    from ferenda_spark.operators.textstats import kwic
    return (kwic(_read(spark, sf_dir, "documents"),
                 ["spark", "table", "hash"])
            .orderBy("doc_id", "pos"))


_PLURALS = ("studies", "queries", "tables", "hashes", "rows",
            "focus", "class", "trees", "scan")


def _q_text_s_stemmer(spark, sf_dir):
    """Harman S-stemmer over the corpus vocabulary plus one planted
    plural per doc covering every rule and exception (ies->y, es->e,
    -s, -us/-ss/-ees guards)."""
    from ferenda_spark.operators.textstats import s_stemmer
    d = _read(spark, sf_dir, "documents")
    word = F.element_at(F.array(*[F.lit(w) for w in _PLURALS]),
                        (F.col("doc_id") % 9 + 1).cast("int"))
    return (s_stemmer(d.select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), word)
        .alias("text")))
        .orderBy("token"))


def _q_text_burstiness(spark, sf_dir):
    """Church-Gale term burstiness (variance-to-mean of per-doc
    counts over all N docs) for the real corpus vocabulary, exact
    integer milli-scale."""
    from ferenda_spark.operators.textstats import burstiness
    return (burstiness(_read(spark, sf_dir, "documents"))
            .orderBy("term"))


def _q_store_bloom_skipping(spark, sf_dir):
    """Per-file Bloom skipping index (k=3, m=256 portable md5 bits)
    over 50-doc files, probed with 5 present urls and 10 absent
    ones: point-lookup file pruning for the unclustered key a
    zonemap can't help with, false-positive scan cost reported per
    probe."""
    from ferenda_spark.operators.store import bloom_file_skipping
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"),
        did.cast("string"))
    docs = d.select("doc_id", url.alias("url"))
    rows = docs.select(F.expr("doc_id div 50").alias("file_id"),
                       "url")
    present = docs.where(did % 100 == 7).select(
        F.col("url").alias("probe"))
    absent = (d.where(did < 10)
              .select(F.concat(F.lit("https://absent.example.org/"),
                               did.cast("string")).alias("probe")))
    return (bloom_file_skipping(rows, present.unionByName(absent))
            .orderBy("probe"))


def _q_kg_truthfinder(spark, sf_dir):
    """Sums/HITS truth finding over the planted conflicting claims
    (2 rounds, exact integer micro-units with div-by-max
    re-rounding): sources backing majority labels gain trust, and
    the final per-(subject, predicate) winner is the belief argmax."""
    from ferenda_spark.operators.fusion import truthfinder_sums
    return (truthfinder_sums(_claims(spark, sf_dir), rounds=2)
            .orderBy("subject", "object"))


def _q_store_hilbert_layout(spark, sf_dir):
    """Hilbert-curve clustering keys over the same two 8-bit
    dimensions as store_zorder_layout (16 buckets) — the
    locality-optimal 2-D layout; the oracle replays the full 8-level
    rotate/reflect chain."""
    from ferenda_spark.operators.store import hilbert_keys
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    df = d.select("doc_id", (did % 256).alias("x"),
                  ((did * 7 + 3) % 256).alias("y"))
    return (hilbert_keys(df, "x", "y", bits=8, bucket_bits=4)
            .orderBy("doc_id"))


def _q_events_markov(spark, sf_dir):
    """Markov removal-effect attribution: distributed journey/
    transition counting, driver-side 12-step integer value iteration
    over the dimension-sized matrix, one knockout per channel; the
    oracle replays the identical integer recursion unrolled."""
    from ferenda_spark.operators.events import markov_attribution
    return (markov_attribution(_read(spark, sf_dir, "events"),
                               ["click", "signup", "view"])
            .orderBy("channel"))


def _snapshot_manifests(spark, sf_dir):
    """Planted snapshot/manifest metadata: per source-table, 10
    snapshots (committed daily), snapshot s referencing the sliding
    window of files max(0, s-4)..s."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tables = (d.where(did < 200)
              .select(F.col("source").alias("tbl"),
                      F.expr("(doc_id div 20) % 10").alias("snap_id"))
              .distinct())
    snaps = tables.select(
        "tbl", "snap_id",
        (F.lit(1700000000) + F.col("snap_id") * 86400).cast("long")
        .alias("committed_at"))
    manifests = (snaps.select(
        "tbl", "snap_id",
        F.explode(F.sequence(
            F.greatest(F.lit(0), F.col("snap_id") - 4),
            F.col("snap_id"))).alias("file_seq"))
        .select("tbl", "snap_id",
                F.concat(F.col("tbl"), F.lit("-f"),
                         F.col("file_seq").cast("string"))
                .alias("file_id")))
    return snaps, manifests


def _q_store_expire_snapshots(spark, sf_dir):
    """Iceberg-style snapshot expiry: keep the newest 3 snapshots
    per table, delete data files reachable ONLY from expired
    snapshots (the reachability anti-join every table-maintenance
    vacuum runs)."""
    from ferenda_spark.operators.store import expire_snapshots
    snaps, manifests = _snapshot_manifests(spark, sf_dir)
    return (expire_snapshots(snaps, manifests, keep_last=3)
            .orderBy("tbl", "file_id"))


def _q_events_identity_stitch(spark, sf_dir):
    """Cross-device identity stitching over planted behavioral ids
    (device 'dev<u>', second device 'dtv<u>' on every 5th event,
    cookies 'ck<3u+r>'): star edges + the shared hash-min CC kernel;
    canonical = (length, value)-min of the component."""
    from ferenda_spark.operators.linking import identity_stitch
    ev = _read(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    dev = F.concat(F.lit("dev"), uid.cast("string"))
    dtv = F.concat(F.lit("dtv"), uid.cast("string"))
    ck = F.concat(F.lit("ck"), (uid * 3 + eid % 3).cast("string"))
    obs = (ev.select(dev.alias("a"), ck.alias("b"))
           .unionByName(ev.where(eid % 5 == 0)
                        .select(dtv.alias("a"), ck.alias("b"))))
    return identity_stitch(obs, ["a", "b"]).orderBy("identifier")


def _q_mm_video_shots(spark, sf_dir):
    """Shot-boundary detection over synthesized frame sequences
    (planted hard cut at frame 2): real dHash kernel per frame in
    the Arrow pass, consecutive Hamming distance via one video-keyed
    lag window."""
    from ferenda_spark.operators.multimodal import (shot_boundaries,
                                                    synth_frame_blobs)
    return (shot_boundaries(synth_frame_blobs(
        _read(spark, sf_dir, "documents")))
        .orderBy("doc_id", "frame_idx"))


def _q_kg_snowball(spark, sf_dir):
    """Snowball pattern bootstrap over planted HQ sentences: two
    reliable patterns (6% planted noise) clear the 600-permille
    gate, the 50%-noisy 'opened an office in' pattern is rejected,
    and round 2 extracts the 4 non-seed orgs' cities through the
    kept patterns."""
    from ferenda_spark.operators.linking import snowball_bootstrap
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    org_id = did % 9
    pat = did % 3
    wrong = ((pat == 2) & (did % 2 == 0)) | ((pat < 2)
                                             & (did % 17 == 0))
    city_id = F.when(wrong, (org_id % 5 + 1) % 5) \
        .otherwise(org_id % 5)
    middle = (F.when(pat == 0, F.lit("is headquartered in"))
              .when(pat == 1, F.lit("is based in"))
              .otherwise(F.lit("opened an office in")))
    sents = d.select(F.concat(
        F.lit("Org"), org_id.cast("string"), F.lit(" "), middle,
        F.lit(" City"), city_id.cast("string")).alias("sent"))
    seeds = spark.createDataFrame(
        [("Org%d" % k, "City%d" % (k % 5)) for k in range(5)],
        "subject string, object string")
    return (snowball_bootstrap(sents, seeds)
            .orderBy("subject", "object"))


def _q_search_collapse(spark, sf_dir):
    """Field-collapsed SERP: BM25 top-50 per query, then one result
    per site (source) with re-ranking and the site's original result
    count — the one-per-domain rule."""
    from ferenda_spark.operators.search import (bm25_rank,
                                                collapse_results)
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


def _q_stats_ab_ztest(spark, sf_dir):
    """Two-proportion z-test on per-user purchase conversion between
    the even/odd user cohorts — exact integer counts, one pinned
    IEEE z expression."""
    from ferenda_spark.operators.quality import two_proportion_ztest
    ev = _read(spark, sf_dir, "events")
    subj = (ev.groupBy("user_id")
            .agg(F.max(F.col("event_type") == "purchase")
                 .alias("converted"))
            .select(F.when(F.col("user_id") % 2 == 0, "A")
                    .otherwise("B").alias("cohort"), "converted"))
    return two_proportion_ztest(subj)


_CDC_TAIL = (" shared passage number %s of the corpus boilerplate "
             "that repeats across documents verbatim and keeps "
             "repeating until a content cut lands inside it")


def _q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over every 5th doc with a planted
    shared tail per doc_id%7 class: the self-synchronizing cuts
    realign inside the shared text, so cross-document duplicate
    chunks surface wherever a boundary lands in the tail."""
    from ferenda_spark.operators.dedup import cdc_chunks
    d = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 5
                                                == 0)
    pre, post = _CDC_TAIL.split("%s")
    docs = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(pre),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit(post)).alias("text"))
    return cdc_chunks(docs).orderBy("chunk_md5")


def _q_kg_boruvka_msf(spark, sf_dir):
    """Boruvka minimum spanning forest over planted 8-cycles (one
    per doc block, globally distinct weights, the trailing partial
    block is a path): the unique MSF is every cycle minus its
    heaviest edge — which the oracle states closed-form while the
    operator runs the general fixpoint."""
    from ferenda_spark.operators.graphs import boruvka_msf
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    w = (((did * 37) % 997) * 10000 + did).alias("weight")
    chain = d.where(did % 8 != 7).select(
        did.alias("src"), (did + 1).alias("dst"), w)
    close = d.where(did % 8 == 7).select(
        did.alias("src"), (did - 7).alias("dst"), w)
    return (boruvka_msf(chain.unionByName(close))
            .orderBy("src", "dst"))


def _q_train_curriculum(spark, sf_dir):
    """Competence-based curriculum schedule over n_chars difficulty
    (root competence, T=10): exact integer first-epoch assignment
    via the two-pass global rank."""
    from ferenda_spark.operators.training import curriculum_schedule
    return (curriculum_schedule(_read(spark, sf_dir, "documents"),
                                "n_chars", total_epochs=10)
            .orderBy("doc_id"))


def _q_store_bucket_prune(spark, sf_dir):
    """Iceberg bucket(16, url) partition pruning: 3 files per
    bucket, point probes (5 present urls + 5 absent) each scan one
    bucket's files instead of the whole manifest."""
    from ferenda_spark.operators.sketches import _h
    from ferenda_spark.operators.store import bucket_prune
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"),
        did.cast("string"))
    b = _h(url, "bucket") % 16
    rows = d.select(url.alias("url"),
                    F.concat(b.cast("string"), F.lit("-"),
                             (did % 3).cast("string"))
                    .alias("file_id"))
    probes = (d.where(did % 97 == 5)
              .select(url.alias("probe"))
              .unionByName(
                  d.where(did < 5)
                  .select(F.concat(F.lit("https://absent.example.org/"),
                                   did.cast("string")).alias("probe"))))
    return bucket_prune(rows, probes).orderBy("probe")


def _q_kg_graph_coloring(spark, sf_dir):
    """Priority-round greedy coloring over planted 8-vertex paths:
    rounds=8 guarantees completion (worst case one vertex per round
    along a monotone chain); properness is structural (each round
    selects an independent set)."""
    from ferenda_spark.operators.graphs import greedy_coloring
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    edges = d.where(did % 8 != 7).select(did.alias("src"),
                                         (did + 1).alias("dst"))
    return greedy_coloring(edges, rounds=8).orderBy("node")


def _q_text_texttiling(spark, sf_dir):
    """TextTiling over planted two-topic documents (40 topic-A
    tokens, 40 topic-B tokens, then the real text): the A|B gap is
    a full-depth valley; the real-text tail contributes varied
    similarities."""
    from ferenda_spark.operators.textstats import texttiling
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


def _q_events_cohort_revenue(spark, sf_dir):
    """Cohort LTV triangle over the event stream, month-spread per
    (user, event) so small scales still produce a real triangle:
    signup month by first event, purchase revenue in exact integer
    cents, cumulative by cohort age."""
    from ferenda_spark.operators.events import cohort_revenue
    ev = _read(spark, sf_dir, "events")
    spread = ev.withColumn(
        "ts", F.expr("add_months(ts, CAST(user_id % 6"
                     " + event_id % 4 AS INT))"))
    return (cohort_revenue(spread)
            .orderBy("cohort_month", "age_months"))


def _q_store_partition_evolution(spark, sf_dir):
    """Mixed-spec scan planning: rows before hour 1000 partition by
    DAY (old spec), after by HOUR (evolved spec); the [990, 1010)
    query scans wide day files at the left edge and narrow hour
    files on the right — per-file pruning under each file's own
    spec."""
    from ferenda_spark.operators.store import partition_evolution_scan
    d = _read(spark, sf_dir, "documents")
    rows = d.select(((F.col("doc_id") * 7) % 2000).cast("long")
                    .alias("ts_hour"))
    return (partition_evolution_scan(rows, cutover_hour=1000,
                                     query_lo=990, query_hi=1010)
            .orderBy("spec", "partition_key"))


def _q_text_stopword_induction(spark, sf_dir):
    """Statistical stopword induction over the corpus: ubiquitous
    (df >= 50%) AND non-bursty (VMR <= 2000 milli) terms flag as
    stopwords."""
    from ferenda_spark.operators.textstats import stopword_induction
    return (stopword_induction(_read(spark, sf_dir, "documents"))
            .orderBy("term"))


def _q_kg_asof_diff(spark, sf_dir):
    """Temporal-KG state diff between AS-OF 2021-06-01 and
    2022-06-01 over the planted employer facts: added / removed /
    kept via two point-in-interval filters + one fact-keyed full
    outer join."""
    from ferenda_spark.operators.temporal import asof_diff
    facts = _employer_facts(spark, sf_dir)
    return (asof_diff(facts,
                      F.lit("2021-06-01").cast("date"),
                      F.lit("2022-06-01").cast("date"))
            .orderBy("subject", "object", "status"))


def _q_events_sprt(spark, sf_dir):
    """Wald SPRT per event-type experiment: success = value > 10,
    H1: p=0.6 vs H0: p=0.4, 5% error barriers; integer-micro LLR
    walk, first-crossing decision."""
    from ferenda_spark.operators.events import sprt
    ev = _read(spark, sf_dir, "events")
    obs = ev.select(F.col("event_type").alias("grp"), "ts",
                    "event_id",
                    (F.col("value") > 10.0).alias("success"))
    return sprt(obs, p0=0.4, p1=0.6).orderBy("grp")


def _q_train_pareto(spark, sf_dir):
    """Per-source 2-D Pareto frontier over (length-cost, freshness):
    the skyline of non-dominated docs; the oracle is the INDEPENDENT
    quadratic NOT-EXISTS dominance test."""
    from ferenda_spark.operators.training import pareto_selection
    d = _read(spark, sf_dir, "documents")
    items = d.select("source", "doc_id",
                     F.col("n_chars").alias("cost"),
                     ((F.col("doc_id") * 37) % 1461).alias("value"))
    return (pareto_selection(items, "source", "cost", "value",
                             "doc_id")
            .orderBy("group", "id"))


def _q_kg_rdfstar(spark, sf_dir):
    """RDF-star annotation parsing over planted Turtle-star lines
    (one quoted-triple confidence annotation per doc, every 29th
    line malformed -> quarantine flag)."""
    from ferenda_spark.operators.rdfio import rdfstar_annotations
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    line = F.when(
        did % 29 == 0,
        F.concat(F.lit("malformed "), did.cast("string"))).otherwise(
        F.concat(F.lit("<< ex:e"), (did % 50).cast("string"),
                 F.lit(" ex:worksFor ex:org"),
                 (did % 7).cast("string"),
                 F.lit(' >> ex:confidence "'),
                 (did % 1000).cast("string"), F.lit('" .')))
    return (rdfstar_annotations(d.select(line.alias("line")))
            .orderBy("stmt_id", "ann_obj", "parsed"))


def _q_store_mor_planning(spark, sf_dir):
    """Merge-on-read maintenance plan: 50-row files, two planted
    positional-delete entries per file; files past 30% masked rows
    get a copy-on-write rewrite."""
    from ferenda_spark.operators.store import mor_planning
    d = _read(spark, sf_dir, "documents")
    fid = F.expr("doc_id div 50")
    files = (d.groupBy(F.concat(F.lit("f"), fid.cast("string"))
                       .alias("file_id"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    ks = (d.select(fid.alias("k")).distinct())
    deletes = (ks.select(
        F.concat(F.lit("f"), F.col("k").cast("string"))
        .alias("file_id"),
        ((F.col("k") * 7) % 40).alias("n_deleted"))
        .unionByName(ks.select(
            F.concat(F.lit("f"), F.col("k").cast("string"))
            .alias("file_id"),
            ((F.col("k") * 3) % 10).alias("n_deleted")))
        .where(F.col("n_deleted") > 0))
    return (mor_planning(files, deletes).orderBy("file_id"))


def _ab_subjects(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.max(F.col("event_type") == "purchase")
                 .alias("converted"))
            .select(F.when(F.col("user_id") % 2 == 0, "A")
                    .otherwise("B").alias("cohort"), "converted",
                    "user_id"))


def _q_stats_tost(spark, sf_dir):
    """TOST equivalence of per-user conversion between the even/odd
    cohorts at a 10% margin — the non-inferiority dual of
    stats_ab_ztest."""
    from ferenda_spark.operators.quality import tost_equivalence
    return tost_equivalence(_ab_subjects(spark, sf_dir)
                            .select("cohort", "converted"))


def _q_stats_srm(spark, sf_dir):
    """Sample-ratio mismatch guardrail on the even/odd user split
    against the configured 50/50."""
    from ferenda_spark.operators.quality import srm_check
    return srm_check(_ab_subjects(spark, sf_dir).select("cohort"))


def _q_pep_docs(spark, sf_dir):
    """PEP repo instance (sources/tech/pep.py:12-16 + the PEP 1
    preamble grammar): planted RFC-2822-style PEP headers distilled
    into triples by the JVM-regexp parser — rdf:type foaf:Document
    (the DocumentRepository default pep.py inherits), identifier,
    title, per-author creator triples, status/type literals, and the
    dd-Mon-yyyy Created date normalized to ISO.  The oracle restates
    every triple closed-form from doc_id."""
    from ferenda_spark.operators.tech import pep_triples
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


def _q_ecma_standards(spark, sf_dir):
    """ECMA repo instance (sources/tech/ecma.py:11-18): basefile
    discovery via the config's ECMA-(\d+) regex over planted listing
    pages, document URLs minted from document_url_template, rdf:type
    bibo:Standard.  Each page mentions two standards; mention counts
    aggregate per basefile."""
    from ferenda_spark.operators.tech import ecma_standards
    did = F.col("doc_id")
    text = F.concat(
        F.lit("Standards index: ECMA-"), (262 + did % 40).cast("string"),
        F.lit(" (scripting) and ECMA-"), (100 + did % 60).cast("string"),
        F.lit(" are listed. See also Ecma International."))
    pages = (_read(spark, sf_dir, "documents")
             .select(text.alias("text")))
    return ecma_standards(pages).orderBy("basefile")


def _q_mm_video_meta(spark, sf_dir):
    """Real MP4/WebM container-header decode (multimodal.mp4_meta_
    bytes / webm_meta_bytes): closed-form minimal ISO-BMFF and EBML
    blobs synthesized JVM-side, header-only parse via Arrow batches;
    the oracle restates duration/dims from doc_id.  Closes the r4
    AV-decode stub: NotImplementedError now scopes to genuinely
    undecodable stream codecs only (no ffmpeg in container)."""
    from ferenda_spark.operators.multimodal import (synth_video_blobs,
                                                    video_meta)
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return (video_meta(synth_video_blobs(docs))
            .orderBy("doc_id"))


def _q_text_hashed_classifier(spark, sf_dir):
    """fastText-style hashed linear quality filter (textstats.hashed_
    classifier_score): deterministic closed-form weight table
    (bucket, weight_milli in [-1000, 1000] via a Knuth-multiplier
    residue) broadcast-joined against md5-hashed unigram features;
    integer mean-pooling so the oracle replays the score exactly."""
    from ferenda_spark.operators.textstats import hashed_classifier_score
    weights = spark.range(0, 4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 2654435761) % 2001 - 1000).cast("long")
        .alias("weight_milli"))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (hashed_classifier_score(docs, weights, n_buckets=4096,
                                    bias_milli=100,
                                    threshold_milli=150)
            .orderBy("doc_id"))


def _q_crawl_opic(spark, sf_dir):
    """OPIC frontier prioritization (crawl.opic_priorities): 3
    synchronous cash-distribution rounds over a planted per-block
    digraph (3-cycle -> 2-cycle -> dangling sink), integer cash
    units so the oracle unrolls the SAME 3 rounds in SQL and matches
    bit-for-bit — algorithm-exact, not just converged-answer-exact
    (the kg_label_prop pattern)."""
    from ferenda_spark.operators.crawl import opic_priorities
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("src"),
                        (F.col("b") + j).alias("dst"))
    edges = (_e(0, 1).unionByName(_e(1, 2)).unionByName(_e(2, 0))
             .unionByName(_e(2, 5)).unionByName(_e(5, 6))
             .unionByName(_e(6, 5)).unionByName(_e(6, 7)))
    return opic_priorities(edges, rounds=3).orderBy("node")


def _q_text_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model table (textstats.
    kneser_ney_bigram, d=3/4): the distinct-continuation smoothing
    that beats add-k (Chen & Goodman 1999), restated in exact
    quarter-integer arithmetic so the DuckDB replay matches
    bit-for-bit.  Output = the model artifact a scorer would
    broadcast-join."""
    from ferenda_spark.operators.textstats import kneser_ney_bigram
    return (kneser_ney_bigram(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("w1", "w2"))


def _q_text_kn_score(spark, sf_dir):
    """Per-doc LM scoring under the corpus Kneser-Ney bigram model
    (the CCNet-style filter application): integer mean of the doc's
    bigram ppm probabilities, unseen bigrams contributing no
    observed mass."""
    from ferenda_spark.operators.textstats import kneser_ney_doc_score
    return (kneser_ney_doc_score(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("doc_id"))


def _q_text_good_turing(spark, sf_dir):
    """Good-Turing count-of-counts over the unigram vocabulary with
    the adjusted count r* = (r+1) n_{r+1}/n_r as integer milli
    (NULL where n_{r+1}=0 — the undefined tail SGT power-law fits
    exist for)."""
    from ferenda_spark.operators.textstats import good_turing_counts
    return (good_turing_counts(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("r"))


def _q_kg_salsa(spark, sf_dir):
    """SALSA degree-proportional link scores (graphs.salsa_scores):
    per 20-doc block a dense 2x2 hub-authority biclique plus a
    disjoint 1x1 pair — the oracle states components and the
    Lempel-Moran closed form directly from the planted structure."""
    from ferenda_spark.operators.graphs import salsa_scores
    b = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 20 == 0)
         .select(F.col("doc_id").alias("b")))
    def _e(i, j):
        return b.select((F.col("b") + i).alias("src"),
                        (F.col("b") + j).alias("dst"))
    edges = (_e(0, 10).unionByName(_e(0, 11)).unionByName(_e(1, 10))
             .unionByName(_e(1, 11)).unionByName(_e(2, 12)))
    return salsa_scores(edges).orderBy("side", "node")


def _q_text_sgt(spark, sf_dir):
    """Simple Good-Turing smoothing (Gale-Sampson): Z-transformed
    count-of-counts, log-log power-law fit, smoothed r* and the
    unseen mass p0 — the oracle replays the identical pinned
    expression order."""
    from ferenda_spark.operators.textstats import simple_good_turing
    return (simple_good_turing(
        _read(spark, sf_dir, "documents").select("doc_id", "text"))
        .orderBy("r"))


def _q_clean_card_pii(spark, sf_dir):
    """Luhn-validated payment-card PII detection (cleaning.luhn_card_
    candidates): every doc plants a spaced visa-shaped run whose
    check digit is doc_id%10 (valid only when it lands on the true
    Luhn digit, 1) and an amex-shaped run with check digit
    (doc_id*3)%10 (true digit 5) — the oracle states validity
    closed-form, so the checksum arithmetic is pinned end-to-end,
    including the separator normalization."""
    from ferenda_spark.operators.cleaning import luhn_card_candidates
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


def _q_crawl_strand_pairs(spark, sf_dir):
    """STRAND parallel-page candidates (crawl.strand_url_pairs):
    planted multilingual site — lang cycles en/fr/de/sv by doc_id%4,
    host alternates by doc_id%2, template groups of 4 share a page
    id — so each complete group yields the (de,en) pair on host 0
    and the (fr,sv) pair on host 1; the oracle builds the same
    tagged table closed-form and replays the join."""
    from ferenda_spark.operators.crawl import strand_url_pairs
    did = F.col("doc_id")
    lang = F.array(F.lit("en"), F.lit("fr"), F.lit("de"),
                   F.lit("sv"))[(did % 4).cast("int")]
    url = F.concat(
        F.lit("https://h"), (did % 2).cast("string"),
        F.lit(".example.org/"), lang, F.lit("/page"),
        (did / 4).cast("long").cast("string"))
    pages = (_read(spark, sf_dir, "documents")
             .select(url.alias("url")))
    return (strand_url_pairs(pages)
            .orderBy("host", "template", "lang_a", "lang_b"))


def _q_stats_wilson_domains(spark, sf_dir):
    """Wilson lower-bound domain quality ranking (quality.wilson_
    domain_ranking): pass = n_chars above the corpus-planted
    threshold, grouped per source — the small-sample-penalizing
    ranking that decides domain keep/drop after per-page gates."""
    from ferenda_spark.operators.quality import wilson_domain_ranking
    docs = (_read(spark, sf_dir, "documents")
            .select("source",
                    (F.col("n_chars") > 300).alias("passed")))
    return (wilson_domain_ranking(docs)
            .orderBy("group"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_doc_triples": _q_doc_triples,
        "pep_docs": _q_pep_docs,
        "mm_video_meta": _q_mm_video_meta,
        "text_hashed_classifier": _q_text_hashed_classifier,
        "crawl_opic": _q_crawl_opic,
        "text_kneser_ney": _q_text_kneser_ney,
        "text_kn_score": _q_text_kn_score,
        "text_good_turing": _q_text_good_turing,
        "kg_salsa": _q_kg_salsa,
        "text_sgt": _q_text_sgt,
        "clean_card_pii": _q_clean_card_pii,
        "crawl_strand_pairs": _q_crawl_strand_pairs,
        "stats_wilson_domains": _q_stats_wilson_domains,
        "ecma_standards": _q_ecma_standards,
        "kg_section_triples": _q_section_triples,
        "kg_mention_triples": _q_mention_triples,
        "kg_entity_mentions": _q_entity_mentions,
        "kg_triples_by_pred": _q_triples_by_pred,
        "kg_faceted_data": _q_faceted,
        "kg_sameas_canonical": _q_sameas_canonical,
        "kg_links": _q_links,
        "kg_toc_pagesets": _q_toc_pagesets,
        "kg_api_stats": _q_api_stats,
        "kg_extracted_docs": _q_extracted_docs,
        "tpch_pricing_summary": _q_pricing_summary,
        "top_revenue_orders": _q_top_revenue_orders,
        "latest_event_per_user": _q_latest_event_per_user,
        "feed_archive_pages": _q_feed_archive_pages,
        "event_type_user_stats": _q_event_type_user_stats,
        "events_month_histogram": _q_events_month_histogram,
        "events_windowed_counts": _q_events_windowed_counts,
        "events_sessions": _q_events_sessions,
        "events_asof_attribution": _q_events_asof_attribution,
        "events_range_join": _q_events_range_join,
        "wiki_links": _q_wiki_links,
        "customers_without_orders": _q_customers_without_orders,
        "search_documents": _q_search_documents,
        "autocomplete_titles": _q_autocomplete_titles,
        "search_year_range": _q_search_year_range,
        "dedup_exact": _q_dedup_exact,
        "dedup_repeated_spans": _q_dedup_spans,
        "dedup_span_removed": _q_dedup_span_removed,
        "dedup_incremental": _q_dedup_incremental,
        "dedup_edit_verified": _q_dedup_edit_verified,
        "dedup_minhash_estimate": _q_dedup_minhash_estimate,
        "sim_centroid_dist": _q_sim_centroid_dist,
        "dedup_minhash_pairs": _q_dedup_minhash_pairs,
        "dedup_minhash_clusters": _q_dedup_minhash_clusters,
        "dedup_jaccard_pairs": _q_dedup_jaccard_pairs,
        "dedup_meta_blocking": _q_dedup_meta_blocking,
        "dedup_containment": _q_dedup_containment,
        "dedup_simhash": _q_dedup_simhash,
        "text_token_stats": _q_text_token_stats,
        "text_quality": _q_text_quality,
        "text_lm_score": _q_text_lm_score,
        "text_ccnet_buckets": _q_text_ccnet_buckets,
        "text_gopher_rules": _q_text_gopher,
        "text_length_quantiles": _q_text_length_quantiles,
        "text_lang_id": _q_text_lang_id,
        "text_fingerprint": _q_text_fingerprint,
        "sim_cosine_topk": _q_sim_cosine_topk,
        "sim_lsh_topk": _q_sim_lsh_topk,
        "sim_ivf_topk": _q_sim_ivf_topk,
        "sim_ivf_topk_pruned": _q_sim_ivf_topk_pruned,
        "sim_sq8_topk": _q_sim_sq8_topk,
        "dedup_semantic": _q_dedup_semantic,
        "train_domain_cap": _q_train_domain_cap,
        "train_dsir_weights": _q_train_dsir_weights,
        "train_bpe_merges": _q_train_bpe_merges,
        "train_bpe_tokens": _q_train_bpe_tokens,
        "kg_ranking_ndcg": _q_ranking_ndcg,
        "train_source_temperature": _q_train_source_temperature,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "events_anomalies": _q_events_anomalies,
        "text_readability": _q_text_readability,
        "text_script_mix": _q_text_script_mix,
        "clean_strip_boilerplate": _q_clean_strip_boilerplate,
        "text_c4_rules": _q_text_c4_rules,
        "dedup_url_recrawl": _q_dedup_url_recrawl,
        "search_bm25": _q_search_bm25,
        "text_entropy": _q_text_entropy,
        "text_tfidf_terms": _q_text_tfidf_terms,
        "clean_redact_pii": _q_clean_redact_pii,
        "clean_repetition_stats": _q_clean_repetition_stats,
        "clean_contaminated": _q_clean_contaminated,
        "train_stratified_sample": _q_train_stratified_sample,
        "train_packed_sequences": _q_train_packed_sequences,
        "train_mixture_order": _q_train_mixture_order,
        "train_doc_chunks": _q_train_doc_chunks,
        "train_corpus_pipeline": _q_train_corpus_pipeline,
        "mm_image_meta": _q_mm_image_meta,
        "mm_image_meta_real": _q_mm_image_meta_real,
        "mm_image_dhash": _q_mm_image_dhash,
        "mm_image_dhash_pairs": _q_mm_image_dhash_pairs,
        "mm_audio_meta": _q_mm_audio_meta,
        "mm_frame_sample": _q_mm_frame_sample,
        "kg_keyword_terms": _q_keyword_terms,
        "kg_triple_stats": _q_triple_stats,
        "kg_ispartof_closure": _q_ispartof_closure,
        "kg_citation_counts": _q_citation_counts,
        "kg_pagerank": _q_pagerank,
        "kg_hits": _q_hits,
        "kg_link_validation": _q_link_validation,
        "kg_fuzzy_entity_links": _q_fuzzy_entity_links,
        "kg_fuzzy_links_lsh": _q_fuzzy_links_lsh,
        "versioned_current": _q_versioned_current,
        "next_archive_version": _q_next_archive_version,
        "patched_docs": _q_patched_docs,
        "kg_coin_uris": _q_coin_uris,
        "kg_toc_pages": _q_toc_pages,
        "news_frontpage": _q_news_frontpage,
        "search_fielded": _q_search_fielded,
        "search_snippets": _q_search_snippets,
        "kg_sql_select": _q_sql_select,
        "kg_sparql_bgp": _q_sparql_bgp,
        "kg_sparql_optional": _q_sparql_optional,
        "kg_sparql_filter": _q_sparql_filter,
        "kg_sparql_construct": _q_sparql_construct,
        "kg_sparql_union": _q_sparql_union,
        "kg_sparql_path": _q_sparql_path,
        "kg_sparql_agg": _q_sparql_agg,
        "kg_sparql_having": _q_sparql_having,
        "kg_sparql_bind_values": _q_sparql_bind_values,
        "kg_sparql_annotations": _q_sparql_annotations,
        "pdf_textbox_stats": _q_pdf_textbox_stats,
        "warc_pages": _q_warc_pages,
        "word_docs": _q_word_docs,
        "word_docs_legacy": _q_word_docs_legacy,
        "wiki_rendered": _q_wiki_rendered,
        "pdf_extracted_lines": _q_pdf_extracted_lines,
        "pdf_section_triples": _q_pdf_section_triples,
        "kg_hot_domain_links_salted": _q_hot_domain_links_salted,
        "search_boosted": _q_search_boosted,
        "search_paginated": _q_search_paginated,
        "kg_resource_validation": _q_resource_validation,
        "kg_repo_status": _q_repo_status,
        "kg_deps_edges": _q_deps_edges,
        "incremental_pending": _q_incremental_pending,
        "kg_stats_cube": _q_stats_cube,
        "dedup_embedding": _q_dedup_embedding,
        "kg_annotations": _q_annotations,
        "kg_legal_mentions": _q_legal_mentions,
        "kg_canonical_triples": _q_canonical_triples,
        "kg_snapshot_incremental": _q_snapshot_incremental,
        "url_canonical": _q_url_canonical,
        "kg_rdfs_entailed": _q_rdfs_entailed,
        "kg_sparql_update": _q_sparql_update,
        "kg_sparql_describe": _q_sparql_describe,
        "kg_sparql_subquery": _q_sparql_subquery,
        "kg_sparql_graph_var": _q_sparql_graph_var,
        "kg_sparql_builtins": _q_sparql_builtins,
        "kg_sparql_agg_expr": _q_sparql_agg_expr,
        "kg_sparql_hashes": _q_sparql_hashes,
        "kg_dup_triangles": _q_dup_triangles,
        "kg_kcore": _q_kg_kcore,
        "kg_jaccard_links": _q_kg_jaccard_links,
        "kg_host_graph": _q_kg_host_graph,
        "kg_assortativity": _q_kg_assortativity,
        "kg_link_prediction": _q_link_prediction,
        "kg_cocitation": _q_cocitation,
        "kg_biblio_coupling": _q_biblio_coupling,
        "kg_dup_clustering": _q_dup_clustering,
        "dedup_embedding_clusters": _q_dedup_embedding_clusters,
        "kg_degree_distribution": _q_degree_distribution,
        "kg_ranking_ap": _q_ranking_ap,
        "kg_ranking_baseline": _q_ranking_baseline,
        "kg_fact_fusion": _q_fact_fusion,
        "kg_source_accuracy": _q_source_accuracy,
        "kg_redirect_resolution": _q_redirect_resolution,
        "crawl_robots_rules": _q_robots_rules,
        "kg_anchor_text": _q_anchor_text,
        "kg_valid_intervals": _q_valid_intervals,
        "kg_bfs_distances": _q_bfs_distances,
        "dedup_sorted_neighborhood": _q_sorted_neighborhood,
        "train_kg_negatives": _q_kg_negatives,
        "text_pmi_bigrams": _q_pmi_bigrams,
        "crawl_sitemap": _q_crawl_sitemap,
        "crawl_frontier": _q_crawl_frontier,
        "kg_mention_contexts": _q_mention_contexts,
        "kg_reified_statements": _q_reified_statements,
        "kg_pred_cooccurrence": _q_pred_cooccurrence,
        "train_split_assignment": _q_split_assignment,
        "train_token_budget": _q_token_budget,
        "dedup_cluster_keep": _q_cluster_keep,
        "kg_html_tables": _q_html_tables,
        "kg_infobox_triples": _q_infobox_triples,
        "kg_entity_disambiguation": _q_entity_disambiguation,
        "stats_cms_tokens": _q_cms_tokens,
        "stats_hll_registers": _q_hll_registers,
        "stats_kmv_jaccard": _q_kmv_jaccard,
        "stats_hist_quantiles": _q_hist_quantiles,
        "dedup_bloom_probe": _q_bloom_probe,
        "crawl_sitemap_diff": _q_sitemap_diff,
        "kg_neighbor_agg": _q_neighbor_agg,
        "kg_label_prop": _q_label_prop,
        "kg_jsonld_triples": _q_jsonld_triples,
        "kg_hearst_pairs": _q_hearst_pairs,
        "kg_distant_supervision": _q_distant_supervision,
        "kg_nil_clustering": _q_nil_clustering,
        "kg_taxonomy_reduction": _q_taxonomy_reduction,
        "kg_coref_chains": _q_coref_chains,
        "kg_quote_attribution": _q_quote_attribution,
        "kg_alias_priors": _q_alias_priors,
        "kg_ppr": _q_ppr,
        "kg_spam_mass": _q_spam_mass,
        "kg_simrank": _q_simrank,
        "train_kg_walks": _q_kg_walks,
        "kg_table_column_types": _q_table_column_types,
        "kg_schema_matching": _q_schema_matching,
        "kg_fd_discovery": _q_fd_discovery,
        "kg_unit_normalize": _q_unit_normalize,
        "kg_geo_coords": _q_geo_coords,
        "dedup_er_eval": _q_er_eval,
        "text_sentences": _q_sentences,
        "kg_hyperball": _q_hyperball,
        "kg_rdf_lists": _q_rdf_lists,
        "kg_owl_entailed": _q_owl_entailed,
        "dedup_paragraph": _q_paragraph_dedup,
        "text_bitext_pairs": _q_bitext_pairs,
        "kg_entity_salience": _q_entity_salience,
        "kg_microdata_triples": _q_microdata,
        "kg_hreflang_links": _q_hreflang,
        "kg_social_meta_tags": _q_social_meta,
        "kg_page_cards": _q_page_cards,
        "clean_content_blocks": _q_content_blocks,
        "clean_main_content": _q_main_content,
        "sim_margin_bitext": _q_margin_bitext,
        "bitext_galechurch": _q_galechurch,
        "crawl_robots_meta": _q_robots_meta,
        "crawl_follow_edges": _q_follow_edges,
        "crawl_feed_entries": _q_feed_entries,
        "crawl_parse_robots": _q_parse_robots,
        "crawl_robots_host_meta": _q_robots_host_meta,
        "crawl_cdx_index": _q_cdx_index,
        "mm_mime_sniff": _q_mime_sniff,
        "train_contrastive_pairs": _q_contrastive_pairs,
        "stats_profile_documents": _q_profile,
        "kg_entity_cooccurrence": _q_entity_cooccurrence,
        "kg_sameas_incremental": _q_sameas_incremental,
        "kg_publication_dates": _q_publication_dates,
        "kg_shacl_violations": _q_shacl_violations,
        "kg_disjoint_violations": _q_disjoint_violations,
        "kg_nquads_triples": _q_nquads_triples,
        "kg_turtle_triples": _q_turtle_triples,
        "kg_entity_cards": _q_entity_cards,
        "train_weighted_sample": _q_train_weighted_sample,
        "kg_spam_features": _q_spam_features,
        "text_winnowing": _q_text_winnowing,
        "kg_scc_labels": _q_scc_labels,
        "kg_bowtie_classes": _q_bowtie_classes,
        "store_zorder_layout": _q_zorder_layout,
        "crawl_recrawl_schedule": _q_recrawl_schedule,
        "crawl_url_templates": _q_url_templates,
        "crawl_param_significance": _q_param_significance,
        "crawl_blocklist_filter": _q_blocklist_filter,
        "stats_calibration_bins": _q_calibration_bins,
        "text_tokenizer_fertility": _q_tokenizer_fertility,
        "kg_mined_rules": _q_mined_rules,
        "kg_rule_violations": _q_rule_violations,
        "crawl_mirror_hosts": _q_mirror_hosts,
        "crawl_politeness_slots": _q_politeness_slots,
        "kg_reverb_triples": _q_reverb_triples,
        "stats_cohens_kappa": _q_cohens_kappa,
        "stats_gini_domains": _q_gini_domains,
        "clean_mojibake": _q_mojibake,
        "crawl_stitched_pages": _q_stitched_pages,
        "crawl_soft404": _q_soft404,
        "kg_property_coverage": _q_property_coverage,
        "stats_domain_quality_eb": _q_domain_quality_eb,
        "text_rake_keyphrases": _q_rake_keyphrases,
        "events_transition_matrix": _q_transition_matrix,
        "crawl_budget_allocation": _q_budget_allocation,
        "stats_psi_drift": _q_psi_drift,
        "kg_pred_functionality": _q_pred_functionality,
        "kg_schema_graph": _q_schema_graph,
        "kg_transe_eval": _q_transe_eval,
        "train_length_buckets": _q_length_buckets,
        "clean_compression_ratio": _q_compression_ratio,
        "kg_inverse_rules": _q_inverse_rules,
        "search_rocchio": _q_rocchio,
        "kg_type_inference": _q_type_inference,
        "events_bot_signals": _q_bot_signals,
        "crawl_rel_canonical": _q_rel_canonical,
        "clean_lang_outliers": _q_lang_outliers,
        "sim_pq_topk": _q_sim_pq_topk,
        "kg_fs_linkage": _q_kg_fs_linkage,
        "stats_cusum": _q_stats_cusum,
        "text_zipf_fit": _q_text_zipf_fit,
        "text_heaps_law": _q_text_heaps_law,
        "stats_ks_lengths": _q_stats_ks_lengths,
        "stats_mann_whitney": _q_stats_mann_whitney,
        "stats_acf_daily": _q_stats_acf_daily,
        "stats_theil_sen": _q_stats_theil_sen,
        "kg_modularity": _q_kg_modularity,
        "text_textrank": _q_text_textrank,
        "kg_wl_colors": _q_kg_wl_colors,
        "stats_chi2_lang_source": _q_stats_chi2_lang_source,
        "kg_betweenness": _q_kg_betweenness,
        "sim_maxsim_topk": _q_sim_maxsim_topk,
        "kg_ktruss": _q_kg_ktruss,
        "text_js_divergence": _q_text_js_divergence,
        "text_yules_k": _q_text_yules_k,
        "stats_benford": _q_stats_benford,
        "stats_bootstrap_mean": _q_stats_bootstrap_mean,
        "train_leakage_check": _q_train_leakage_check,
        "stats_kaplan_meier": _q_stats_kaplan_meier,
        "events_sequence_mining": _q_events_sequence_mining,
        "store_compaction_plan": _q_store_compaction_plan,
        "text_llr_collocations": _q_text_llr_collocations,
        "kg_harmonic_centrality": _q_kg_harmonic_centrality,
        "kg_clustering_coeff": _q_clustering_coeff,
        "crawl_trap_detection": _q_trap_detection,
        "text_ngram_novelty": _q_ngram_novelty,
        "events_sliding_distinct": _q_sliding_distinct,
        "search_phrase": _q_search_phrase,
        "search_fuzzy": _q_search_fuzzy,
        "kg_h_index": _q_kg_h_index,
        "kg_reciprocity": _q_kg_reciprocity,
        "kg_bnode_canonical": _q_kg_bnode_canonical,
        "store_zonemap_prune": _q_store_zonemap_prune,
        "events_decayed_counts": _q_events_decayed_counts,
        "stats_bh_fdr": _q_stats_bh_fdr,
        "clean_template_clusters": _q_clean_template_clusters,
        "text_date_normalize": _q_text_date_normalize,
        "kg_path_rules": _q_kg_path_rules,
        "crawl_warc_revisit": _q_crawl_warc_revisit,
        "kg_heading_outline": _q_kg_heading_outline,
        "search_more_like_this": _q_search_more_like_this,
        "train_neyman_allocation": _q_train_neyman_allocation,
        "kg_breadcrumbs": _q_kg_breadcrumbs,
        "kg_katz": _q_kg_katz,
        "text_code_detection": _q_text_code_detection,
        "kg_graph_diff": _q_kg_graph_diff,
        "kg_void_stats": _q_kg_void_stats,
        "kg_prov_triples": _q_kg_prov_triples,
        "search_rrf_fusion": _q_search_rrf_fusion,
        "kg_geo_join": _q_kg_geo_join,
        "stats_mad_outliers": _q_stats_mad_outliers,
        "kg_inclusion_deps": _q_kg_inclusion_deps,
        "kg_interval_conflicts": _q_kg_interval_conflicts,
        "kg_conductance": _q_kg_conductance,
        "stats_ams_f2": _q_stats_ams_f2,
        "stats_spearman": _q_stats_spearman,
        "stats_kendall": _q_stats_kendall,
        "mm_exif_meta": _q_mm_exif_meta,
        "mm_alt_text_pairs": _q_mm_alt_text_pairs,
        "events_attribution": _q_events_attribution,
        "events_paths": _q_events_paths,
        "text_kwic": _q_text_kwic,
        "text_s_stemmer": _q_text_s_stemmer,
        "text_burstiness": _q_text_burstiness,
        "store_bloom_skipping": _q_store_bloom_skipping,
        "kg_truthfinder": _q_kg_truthfinder,
        "store_hilbert_layout": _q_store_hilbert_layout,
        "events_markov_attribution": _q_events_markov,
        "store_expire_snapshots": _q_store_expire_snapshots,
        "events_identity_stitch": _q_events_identity_stitch,
        "mm_video_shots": _q_mm_video_shots,
        "kg_snowball": _q_kg_snowball,
        "search_collapse": _q_search_collapse,
        "stats_ab_ztest": _q_stats_ab_ztest,
        "dedup_cdc_chunks": _q_dedup_cdc_chunks,
        "kg_boruvka_msf": _q_kg_boruvka_msf,
        "train_curriculum": _q_train_curriculum,
        "store_bucket_prune": _q_store_bucket_prune,
        "kg_graph_coloring": _q_kg_graph_coloring,
        "text_texttiling": _q_text_texttiling,
        "events_cohort_revenue": _q_events_cohort_revenue,
        "store_partition_evolution": _q_store_partition_evolution,
        "text_stopword_induction": _q_text_stopword_induction,
        "kg_asof_diff": _q_kg_asof_diff,
        "events_sprt": _q_events_sprt,
        "train_pareto": _q_train_pareto,
        "kg_rdfstar": _q_kg_rdfstar,
        "store_mor_planning": _q_store_mor_planning,
        "stats_tost": _q_stats_tost,
        "stats_srm": _q_stats_srm,
    }


# ------------------------------------------------------------ oracle SQL

# closed-form spec of the synthetic corpus (ferenda_spark/corpus.py)
_F_CTE = """
f AS (
  SELECT doc_id, text, lang, source,
         (CASE WHEN doc_id % 10 < 3 THEN 'https://hot.example.org/'
               ELSE 'https://example.org/' END)
           || 'docs/' || source || '/' || doc_id AS url,
         'https://example.org/res/doc/' || doc_id AS doc_uri,
         'Document ' || doc_id AS title,
         source || '-' || doc_id AS identifier,
         'https://example.org/res/org/pub' || (doc_id % 7) AS publisher_uri,
         strftime(DATE '2020-01-01' + INTERVAL ((doc_id * 37) % 1461) DAY,
                  '%Y-%m-%d') AS issued,
         'topic' || (doc_id % 11) AS subject,
         'https://example.org/res/entity/' || (doc_id % 50) AS entity_uri,
         CASE WHEN doc_id % 4 <> 0
              THEN 'https://example.org/res/doc/' || (doc_id - 1) END
           AS sameas_uri,
         1 + doc_id % 3 AS n_sections
  FROM documents
),
secs AS (
  SELECT *, unnest(generate_series(1, n_sections)) AS s FROM f
),
subs AS (SELECT * FROM secs WHERE (doc_id + s) % 2 = 1)
"""

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

# shared CTE for the knowledge-fusion oracles (mirrors _claims /
# _source_weights / operators.fusion.fact_fusion)
_FUSION_CTE = """
            WITH claims AS (
              SELECT 'https://example.org/res/entity/' || (doc_id % 50)
                       AS subject,
                     'rdfs:label' AS predicate,
                     'Label ' || (CASE WHEN doc_id % 3 = 0
                                  THEN (doc_id % 50 + 1) % 7
                                  ELSE (doc_id % 50) % 7 END) AS object,
                     source
              FROM documents),
            weights AS (
              SELECT 'src' || i AS source,
                     CAST(1 + i % 3 AS BIGINT) AS weight
              FROM (SELECT unnest(generate_series(0, 19)) AS i)),
            dclaims AS (
              SELECT DISTINCT subject, predicate, object, source
              FROM claims),
            scored AS (
              SELECT subject, predicate, object,
                     CAST(SUM(weight) AS BIGINT) AS support,
                     CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
              FROM dclaims JOIN weights USING (source)
              GROUP BY subject, predicate, object),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY subject, predicate
                       ORDER BY support DESC, object ASC) AS rk
              FROM scored)
"""

_DOC_TRIPLES = """
doc_triples AS (
  SELECT doc_uri AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://purl.org/ontology/bibo/Document' AS obj,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/title', title,
         NULL, lang, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/identifier',
         identifier, NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/publisher',
         publisher_uri, NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/issued', issued,
         'http://www.w3.org/2001/XMLSchema#date', NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/subject', subject,
         NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://www.w3.org/ns/prov#wasGeneratedBy',
         'ferenda_spark.WebPageRepo', NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://xmlns.com/foaf/0.1/page', url,
         NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://www.w3.org/2002/07/owl#sameAs',
         sameas_uri, NULL, NULL, url FROM f WHERE sameas_uri IS NOT NULL
)
"""

_SEC_TRIPLES = """
sec_triples AS (
  SELECT doc_uri || '#S' || s AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://purl.org/ontology/bibo/DocumentPart' AS obj,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM secs
  UNION ALL SELECT doc_uri || '#S' || s, 'http://purl.org/dc/terms/title',
         'Section ' || s, NULL, lang, url FROM secs
  UNION ALL SELECT doc_uri || '#S' || s, 'http://purl.org/dc/terms/isPartOf',
         doc_uri, NULL, NULL, url FROM secs
  UNION ALL SELECT doc_uri || '#S' || s, 'http://purl.org/ontology/bibo/chapter',
         CAST(s AS VARCHAR), NULL, NULL, url FROM secs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'http://purl.org/ontology/bibo/DocumentPart', NULL, NULL, url FROM subs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/dc/terms/title',
         'Subsection ' || s || '.1', NULL, lang, url FROM subs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/dc/terms/isPartOf',
         doc_uri || '#S' || s, NULL, NULL, url FROM subs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/ontology/bibo/chapter',
         s || '.1', NULL, NULL, url FROM subs
)
"""

_MENTION_TRIPLES = """
mention_triples AS (
  SELECT doc_uri || '#S' || s AS subj,
         'http://purl.org/dc/terms/references' AS pred,
         'https://example.org/res/rfc/' || (100 + (doc_id * 7 + s) % 900)
           AS obj,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM secs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/dc/terms/references',
         'https://example.org/res/rfc/' || (100 + (doc_id * 11 + s) % 900)
           || '#S' || s, NULL, NULL, url FROM subs
)
"""

_ENTITY_TRIPLES = """
entity_triples AS (
  SELECT doc_uri AS subj, 'http://schema.org/mentions' AS pred,
         entity_uri AS obj, CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM f
)
"""

_ALL_TRIPLES_WITH = ("WITH " + _F_CTE + ", " + _DOC_TRIPLES + ", "
                     + _SEC_TRIPLES + ", " + _MENTION_TRIPLES + ", "
                     + _ENTITY_TRIPLES + """,
all_triples AS (
  SELECT * FROM doc_triples UNION ALL SELECT * FROM sec_triples
  UNION ALL SELECT * FROM mention_triples
  UNION ALL SELECT * FROM entity_triples
)""")

_FACETED_WITH = _ALL_TRIPLES_WITH + """,
faceted AS (
  SELECT doc_uri AS uri,
         'http://purl.org/ontology/bibo/Document' AS rdf_type,
         title AS dcterms_title, publisher_uri AS dcterms_publisher,
         issued AS dcterms_issued, subject AS dcterms_subject,
         identifier AS dcterms_identifier,
         CAST(substr(issued, 1, 4) AS INT) AS year
  FROM f
)"""


# --- shared CTEs for the dedup / textstats / similarity oracles ------

_TOKS_CTE = r"""
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS t, text
  FROM documents
)"""

# word-3-gram shingles (mirrors ferenda_spark.operators.dedup.shingles)
_SH_CTE = _TOKS_CTE + r""",
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 1))) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM idx WHERE length(array_to_string(t[i:i+2], ' ')) > 0
)"""

_MINHASH_CTE = _SH_CTE + r""",
sig AS (
  -- minhash_i = min over shingles of the i-th 8-hex slice of the
  -- 64-hex chain md5(s) || md5(md5(s)) (mirrors dedup._minhash_col)
  SELECT doc_id, s.seed,
         min(substr(md5(shingle) || md5(md5(shingle)),
                    8 * s.seed + 1, 8)) AS minhash
  FROM sh, generate_series(0, 7) s(seed) GROUP BY doc_id, s.seed
),
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         md5(array_to_string(list_sort(
           list(CAST(seed AS VARCHAR) || ':' || minhash)), '|')) AS bucket
  FROM sig GROUP BY doc_id, band
)"""


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

_EMB_CTE = """
e AS (
  SELECT vec_id, embedding AS raw,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""

_SIM_IDS_SQL = "(0, 7, 42, 123)"


def _sign_bucket_sql(col: str = "raw", n_bits: int = 8,
                     offset: int = 0) -> str:
    return ("(" + " + ".join(
        "(CASE WHEN %s[%d] > 0 THEN %d ELSE 0 END)"
        % (col, offset + i + 1, 1 << i)
        for i in range(n_bits)) + ")")


def _sign_bands_sql(col: str, bits_per_band: int, n_bands: int,
                    src: str = "e") -> str:
    """UNION ALL body mirroring similarity.sign_bucket_bands: one
    (vec_id, v, band, bucket) row per band."""
    return " UNION ALL ".join(
        "SELECT vec_id, v, %d AS band, %s AS bucket FROM %s"
        % (t, _sign_bucket_sql(col, bits_per_band, t * bits_per_band), src)
        for t in range(n_bands))


def _pagerank_sql(iterations: int = 10, damping: float = 0.85) -> str:
    """Closed-form PageRank oracle: the power iteration unrolled into
    one CTE per round, with the dangling-mass term mirrored exactly
    (new = (1-d)/n + d*(sum_in + dangling_mass/n)).  Fixed iteration
    count -> deterministic, so DuckDB and Spark agree to 1e-6."""
    # every CTE below is MATERIALIZED: DuckDB inlines plain CTEs, and
    # each round references the previous one twice (contribs + dangling
    # mass), so un-materialized the scan tree doubles per iteration
    sql = ("WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """,
edges AS MATERIALIZED (
  SELECT DISTINCT context AS src, obj AS dst FROM mention_triples),
verts AS MATERIALIZED (
  SELECT src AS vertex FROM edges UNION SELECT dst FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM verts),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
        FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT vertex, 1.0 / nn.c AS rank FROM verts, nn)""")
    for k in range(1, iterations + 1):
        prev = "r%d" % (k - 1)
        sql += """,
r%d AS MATERIALIZED (
  SELECT v.vertex,
         %r / nn.c + %r * (COALESCE(s.s, 0) + dm.m / nn.c) AS rank
  FROM verts v
  CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0) AS m
              FROM %s r LEFT JOIN deg d2 ON r.vertex = d2.src
              WHERE d2.src IS NULL) dm
  LEFT JOIN (SELECT e.dst AS vertex, SUM(r.rank / d3.deg) AS s
             FROM edges e JOIN %s r ON e.src = r.vertex
             JOIN deg d3 ON d3.src = e.src
             GROUP BY e.dst) s ON s.vertex = v.vertex)""" % (
            k, 1.0 - damping, damping, prev, prev)
    sql += ("\nSELECT vertex, round(rank, 6) AS pagerank_r FROM r%d"
            % iterations)
    return sql


def _spam_mass_sql(pr_iters: int = 5, ppr_iters: int = 3) -> str:
    """Closed-form spam-mass oracle: the PageRank power iteration
    (damping 0.5) unrolled over the planted block graph exactly as
    _pagerank_sql does, the kg_ppr-style TrustRank recursion from the
    b%40==0 seeds, then M = (PR - T/|seeds|)/PR.  Everything dyadic /
    2-term-sum on this graph, so both engines are bit-exact before
    the final rounding."""
    sql = """WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
e0 AS MATERIALIZED (
  SELECT b AS u, b + 1 AS v FROM blk
  UNION ALL SELECT b + 1, b + 2 FROM blk
  UNION ALL SELECT b + 2, b FROM blk
  UNION ALL SELECT b, b + 2 FROM blk),
verts AS MATERIALIZED (SELECT u AS vertex FROM e0
                       UNION SELECT v FROM e0),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM verts),
deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS DOUBLE) AS d
                     FROM e0 GROUP BY u),
pdeg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
r0 AS MATERIALIZED (SELECT vertex, 1.0 / nn.c AS rank FROM verts, nn)"""
    for k in range(1, pr_iters + 1):
        prev = "r%d" % (k - 1)
        sql += """,
r%d AS MATERIALIZED (
  SELECT v.vertex,
         0.5 / nn.c + 0.5 * (COALESCE(s.s, 0) + dm.m / nn.c) AS rank
  FROM verts v
  CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0) AS m
              FROM %s r LEFT JOIN deg d2 ON r.vertex = d2.u
              WHERE d2.u IS NULL) dm
  LEFT JOIN (SELECT e.v AS vertex, SUM(r.rank / d3.d) AS s
             FROM e0 e JOIN %s r ON e.u = r.vertex
             JOIN deg d3 ON d3.u = e.u
             GROUP BY e.v) s ON s.vertex = v.vertex)""" % (k, prev,
                                                           prev)
    sql += """,
seed AS MATERIALIZED (SELECT b AS node, 0.5 AS sm FROM blk
                      WHERE b % 40 = 0),
ew AS MATERIALIZED (SELECT e0.u, e0.v, pdeg.d FROM e0
                    JOIN pdeg ON e0.u = pdeg.u),
t0 AS MATERIALIZED (SELECT node, sm AS score FROM seed)"""
    for k in range(1, ppr_iters + 1):
        prev = "t%d" % (k - 1)
        sql += """,
s%d AS MATERIALIZED (
  SELECT ew.v AS node, SUM(p.score * 0.5 / ew.d) AS sc
  FROM %s p JOIN ew ON p.node = ew.u GROUP BY ew.v),
t%d AS MATERIALIZED (
  SELECT COALESCE(s%d.node, seed.node) AS node,
         COALESCE(s%d.sc, 0) + COALESCE(seed.sm, 0) AS score
  FROM s%d FULL OUTER JOIN seed ON s%d.node = seed.node)""" % (
            k, prev, k, k, k, k, k)
    sql += """,
ns AS (SELECT COUNT(DISTINCT node) AS n FROM seed)
SELECT p.vertex AS node,
       round(round(p.rank, 9), 6) AS pagerank_r,
       round(COALESCE(t.score / ns.n, 0), 6) AS trust_r,
       round((round(p.rank, 9) - COALESCE(t.score / ns.n, 0))
             / round(p.rank, 9), 6) AS rel_spam_mass
FROM r%d p CROSS JOIN ns
LEFT JOIN t%d t ON p.vertex = t.node
ORDER BY node""" % (pr_iters, ppr_iters)
    return sql


def _simrank_sql(iterations: int = 2) -> str:
    """Closed-form SimRank oracle over the planted power-of-two
    in-degree block graph: the recursion unrolled one CTE pair per
    round, diagonal re-seeded at 1.0 each round, hub cut mirrored."""
    sql = """WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
e AS MATERIALIZED (
  SELECT b AS u, b + 2 AS v FROM blk
  UNION ALL SELECT b + 1, b + 2 FROM blk
  UNION ALL SELECT b, b + 3 FROM blk
  UNION ALL SELECT b + 1, b + 3 FROM blk
  UNION ALL SELECT b + 2, b + 4 FROM blk
  UNION ALL SELECT b + 3, b + 4 FROM blk
  UNION ALL SELECT b + 3, b + 1 FROM blk
  UNION ALL SELECT b + 4, b + 1 FROM blk),
ind AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM e GROUP BY v),
e2 AS MATERIALIZED (SELECT e.u, e.v FROM e
                    JOIN ind ON e.v = ind.v WHERE ind.d <= 64),
nodes AS MATERIALIZED (SELECT u AS n FROM e UNION SELECT v FROM e),
s0 AS MATERIALIZED (SELECT n AS x, n AS y, 1.0 AS s FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += """,
t%d AS MATERIALIZED (
  SELECT ea.v AS a, eb.v AS b, SUM(p.s) AS t
  FROM s%d p JOIN e2 ea ON p.x = ea.u JOIN e2 eb ON p.y = eb.u
  WHERE ea.v <> eb.v GROUP BY 1, 2),
s%d AS MATERIALIZED (
  SELECT a AS x, b AS y, 0.5 / (ia.d * ib.d) * t AS s
  FROM t%d JOIN ind ia ON t%d.a = ia.v JOIN ind ib ON t%d.b = ib.v
  UNION ALL SELECT n, n, 1.0 FROM nodes)""" % (k, k - 1, k, k, k, k)
    sql += """
SELECT x AS node_a, y AS node_b, round(s, 6) AS sim
FROM s%d WHERE x < y AND s > 0 ORDER BY node_a, node_b""" % iterations
    return sql


def _hits_sql(iterations: int = 10) -> str:
    """Closed-form HITS oracle: networkx hits_alg unrolled one round
    per CTE set — a_k = A^T h_{k-1}; h_k = A a_k from the
    *un-normalized* a_k; then each normalized by its max (multiplying
    by 1/max, the exact float op networkx and the Spark loop use);
    final sum normalization.  MATERIALIZED for the same
    scan-tree-doubling reason as the pagerank oracle."""
    sql = ("WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """,
edges AS MATERIALIZED (
  SELECT DISTINCT context AS src, obj AS dst FROM mention_triples),
verts AS MATERIALIZED (
  SELECT src AS vertex FROM edges UNION SELECT dst FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM verts),
hn0 AS MATERIALIZED (SELECT vertex, 1.0 / nn.c AS h FROM verts, nn)""")
    for k in range(1, iterations + 1):
        sql += """,
a%d AS MATERIALIZED (
  SELECT v.vertex, COALESCE(s.s, 0) AS a FROM verts v
  LEFT JOIN (SELECT e.dst AS vertex, SUM(h.h) AS s
             FROM edges e JOIN hn%d h ON e.src = h.vertex
             GROUP BY e.dst) s ON s.vertex = v.vertex),
hh%d AS MATERIALIZED (
  SELECT v.vertex, COALESCE(s.s, 0) AS h FROM verts v
  LEFT JOIN (SELECT e.src AS vertex, SUM(a.a) AS s
             FROM edges e JOIN a%d a ON e.dst = a.vertex
             GROUP BY e.src) s ON s.vertex = v.vertex),
an%d AS MATERIALIZED (
  SELECT vertex, a * (1.0 / (SELECT MAX(a) FROM a%d)) AS a FROM a%d),
hn%d AS MATERIALIZED (
  SELECT vertex, h * (1.0 / (SELECT MAX(h) FROM hh%d)) AS h
  FROM hh%d)""" % (k, k - 1, k, k, k, k, k, k, k, k)
    sql += """
SELECT h.vertex,
       round(h.h * (1.0 / (SELECT SUM(h) FROM hn%d)), 6) AS hub_r,
       round(a.a * (1.0 / (SELECT SUM(a) FROM an%d)), 6) AS authority_r
FROM hn%d h JOIN an%d a ON h.vertex = a.vertex""" % (
        iterations, iterations, iterations, iterations)
    return sql


_FUZZY_LSH_SQL = """
    WITH res AS (
      SELECT 'https://example.org/res/entity/' || g AS entity_uri,
             'Entity ' || g AS rlabel
      FROM generate_series(0, 49) t(g)
      UNION ALL
      SELECT 'https://example.org/res/org/pub' || g,
             'Publisher ' || g
      FROM generate_series(0, 6) t(g)),
    men AS (
      SELECT doc_id AS mention_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'Enttity ' || (doc_id % 50)
                  ELSE 'Entity ' || (doc_id % 50) END AS label
      FROM documents),
    mgr AS (
      SELECT mention_id, label,
             list_distinct(list_transform(
               generate_series(1, greatest(length(lower(label)) - 2, 1)),
               i -> substr(lower(label), i, 3))) AS grams
      FROM men),
    rgr AS (
      SELECT entity_uri,
             list_distinct(list_transform(
               generate_series(1, greatest(length(lower(rlabel)) - 2, 1)),
               i -> substr(lower(rlabel), i, 3))) AS grams
      FROM res),
    -- banded minhash buckets, same md5-chain recipe as _MINHASH_CTE
    msig AS (
      SELECT mention_id, s.seed,
             min(substr(md5(u.g) || md5(md5(u.g)), 8 * s.seed + 1, 8))
               AS minhash
      FROM mgr, unnest(grams) u(g), generate_series(0, 7) s(seed)
      GROUP BY mention_id, s.seed),
    rsig AS (
      SELECT entity_uri, s.seed,
             min(substr(md5(u.g) || md5(md5(u.g)), 8 * s.seed + 1, 8))
               AS minhash
      FROM rgr, unnest(grams) u(g), generate_series(0, 7) s(seed)
      GROUP BY entity_uri, s.seed),
    mband AS (
      SELECT mention_id, CAST(seed // 2 AS INT) AS band,
             md5(array_to_string(list_sort(
               list(CAST(seed AS VARCHAR) || ':' || minhash)), '|'))
               AS bucket
      FROM msig GROUP BY mention_id, band),
    rband AS (
      SELECT entity_uri, CAST(seed // 2 AS INT) AS band,
             md5(array_to_string(list_sort(
               list(CAST(seed AS VARCHAR) || ':' || minhash)), '|'))
               AS bucket
      FROM rsig GROUP BY entity_uri, band),
    cand AS (
      SELECT DISTINCT m.mention_id, r.entity_uri
      FROM mband m JOIN rband r
        ON m.band = r.band AND m.bucket = r.bucket),
    scored AS (
      SELECT c.mention_id, m.label, c.entity_uri,
             CAST(len(list_intersect(m.grams, r.grams)) AS DOUBLE)
               / (len(m.grams) + len(r.grams)
                  - len(list_intersect(m.grams, r.grams))) AS jaccard
      FROM cand c
      JOIN mgr m ON m.mention_id = c.mention_id
      JOIN rgr r ON r.entity_uri = c.entity_uri),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY mention_id
        ORDER BY jaccard DESC, entity_uri) AS rk
      FROM scored WHERE jaccard >= 0.5)
    SELECT mention_id, label, entity_uri, jaccard, 'lsh' AS method
    FROM ranked WHERE rk = 1"""


# Morton interleave as plain SQL bit math (generated once so the
# oracle mirrors zorder_keys bit for bit)
_Z_TERMS = "((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2 + ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8 + ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32 + ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128 + ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512 + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048 + ((x >> 6) & 1) * 4096 + ((y >> 6) & 1) * 8192 + ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768"

# The planted rule-mining KG (mirrors _rules_triples) plus the shared
# stages of the AMIE-lite replay: distinct triples, pair self-join
# support, per-predicate marginals, PCA subject join.
_RULES_KG_CTE = """
            d AS (SELECT doc_id, 'e' || doc_id AS s,
                         'v' || doc_id AS o FROM documents),
            raw AS (
              SELECT s AS subj, 'likes' AS pred, o AS obj FROM d
              UNION ALL
              SELECT s, 'buys', o FROM d WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT s, 'buys', 'w' || doc_id FROM d
              WHERE doc_id % 17 = 0 AND doc_id % 2 = 0
              UNION ALL
              SELECT s, 'views', o FROM d WHERE doc_id % 5 < 2),
            t AS (SELECT DISTINCT subj, pred, obj FROM raw),
            sup AS (SELECT b.pred AS body_pred, h.pred AS head_pred,
                           CAST(COUNT(*) AS BIGINT) AS support
                    FROM t b JOIN t h
                      ON b.subj = h.subj AND b.obj = h.obj
                    WHERE b.pred <> h.pred GROUP BY 1, 2),
            marg AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pairs
                     FROM t GROUP BY 1),
            hs AS (SELECT DISTINCT subj, pred AS head_pred FROM t),
            pca AS (SELECT b.pred AS body_pred, h.head_pred,
                           CAST(COUNT(*) AS BIGINT) AS n_pca_body
                    FROM t b JOIN hs h ON b.subj = h.subj
                    WHERE b.pred <> h.head_pred GROUP BY 1, 2)"""


def _reverb_pattern() -> str:
    """The exact regex the operator runs (built from the same module
    constants, so the oracle can never drift from the code)."""
    from ferenda_spark.operators.extract import (REVERB_RELATIONS,
                                                 _REVERB_ENT)
    return "(%s) (%s) (%s)" % (_REVERB_ENT,
                               "|".join(REVERB_RELATIONS), _REVERB_ENT)


def _mojibake_oracle() -> str:
    """Rebuild the planted corruption text and replay the three RE2
    scans; patterns come from the cleaning module so oracle and
    operator can never drift."""
    from ferenda_spark.operators.cleaning import (MOJIBAKE_C1_PAT,
                                                  MOJIBAKE_DOUBLE_PAT,
                                                  MOJIBAKE_REPLACEMENT)
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


def _rake_oracle() -> str:
    """Full SQL replay of the RAKE-lite program (tokens, stopword
    runs, degree/frequency fixed-point scores, per-doc ranks); the
    stopword list comes from the operator module so oracle and code
    cannot drift."""
    from ferenda_spark.operators.textstats import RAKE_STOPWORDS
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


def _rocchio_oracle() -> str:
    """BM25 feedback window + stopword/query-term filters + corpus-df
    replay; the stopword list comes from the operator module."""
    from ferenda_spark.operators.textstats import RAKE_STOPWORDS
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


def _rel_canonical_oracle() -> str:
    """Regexp replay of the rel=canonical extraction with the
    operator's own pattern."""
    from ferenda_spark.operators.crawl import CANONICAL_LINK_PAT
    return """
            WITH p AS (SELECT doc_id,
                   'https://ex.org/p/' || doc_id AS url,
                   CASE WHEN (doc_id // 4) % 7 = 0
                        THEN 'https://ex.org/missing/' || (doc_id // 4)
                        ELSE 'https://ex.org/p/' || ((doc_id // 4) * 4)
                   END AS target
                   FROM documents),
            h AS (SELECT url,
                  '<html><head><link rel="canonical" href="' || target
                  || '"></head><body>x</body></html>' AS html FROM p),
            x AS (SELECT url,
                  regexp_extract(html, '{PAT}', 1) AS canonical_url
                  FROM h),
            decl AS (SELECT * FROM x
                     WHERE canonical_url <> ''
                       AND canonical_url <> url),
            agg AS (SELECT canonical_url,
                    CAST(COUNT(*) AS BIGINT) AS n_variants
                    FROM decl GROUP BY canonical_url),
            f AS (SELECT DISTINCT url AS canonical_url FROM h)
            SELECT a.canonical_url, a.n_variants,
                   f.canonical_url IS NOT NULL AS target_in_corpus
            FROM agg a LEFT JOIN f USING (canonical_url)
            ORDER BY canonical_url""".replace("{PAT}",
                                              CANONICAL_LINK_PAT)


def _hilbert_chain_sql(bits: int = 8) -> str:
    """Unrolled xy2d rotate/reflect chain (mirrors
    operators/store.hilbert_keys level by level)."""
    ctes = []
    prev = "base"
    for i, level in enumerate(range(bits - 1, -1, -1)):
        s = 1 << level
        rx = "((x >> %d) & 1)" % level
        ry = "((y >> %d) & 1)" % level
        ctes.append(
            "h%d AS MATERIALIZED (SELECT doc_id, "
            "CASE WHEN %s = 1 THEN x WHEN %s = 1 THEN %d - y "
            "ELSE y END AS x, "
            "CASE WHEN %s = 1 THEN y WHEN %s = 1 THEN %d - x "
            "ELSE x END AS y, "
            "d + %d * xor(%s * 3, %s) AS d FROM %s)"
            % (i, ry, rx, s - 1, ry, rx, s - 1,
               s * s, rx, ry, prev))
        prev = "h%d" % i
    return ", ".join(ctes), prev


def _coloring_sql(rounds: int = 8) -> str:
    """Unrolled priority-round coloring replay (mirrors
    graphs.greedy_coloring on the planted 8-vertex paths)."""
    ctes = ["""
        und AS (SELECT doc_id AS u, doc_id + 1 AS v FROM documents
                WHERE doc_id % 8 <> 7),
        both_ AS (SELECT u AS a, v AS b FROM und
                  UNION ALL SELECT v, u FROM und),
        s0 AS MATERIALIZED (
          SELECT node,
                 CAST(('0x' || substr(md5('color:' || node), 1, 8))
                      AS BIGINT) * 100000 + node % 100000
                   AS priority,
                 CAST(NULL AS BIGINT) AS color
          FROM (SELECT DISTINCT a AS node FROM both_))"""]
    for r in range(1, rounds + 1):
        ctes.append("""
        nb%d AS (SELECT e.a AS node, MAX(s.priority) AS nbmax
                 FROM both_ e JOIN s%d s ON e.b = s.node
                 WHERE s.color IS NULL GROUP BY e.a),
        s%d AS MATERIALIZED (
          SELECT s.node, s.priority,
                 COALESCE(s.color,
                          CASE WHEN s.color IS NULL
                                AND (n.nbmax IS NULL
                                     OR s.priority > n.nbmax)
                               THEN %d END) AS color
          FROM s%d s LEFT JOIN nb%d n ON s.node = n.node)"""
                    % (r, r - 1, r, r, r - 1, r))
    return ("WITH " + ",".join(ctes)
            + " SELECT node, priority, CAST(color AS BIGINT) AS color"
              " FROM s%d ORDER BY node" % rounds)


def _markov_sql(channels=("click", "signup", "view"),
                iterations: int = 12) -> str:
    """Full SQL replay of events.markov_attribution: journey
    transition counts, permille matrix as a pivoted single row, the
    12-step integer value iteration unrolled per knockout variant,
    remainder-to-last share split."""
    chans = sorted(channels)
    dsts = chans + ["CONV", "NULL"]
    srcs = ["START"] + chans
    pcols = ", ".join(
        "COALESCE(MAX(CASE WHEN src = '%s' AND dst = '%s' "
        "THEN n * 1000 // t END), 0) AS p_%s_%s"
        % (s, d, s.lower(), d.lower())
        for s in srcs for d in dsts)
    head = """
        ca AS (SELECT event_id, ts, user_id, event_type,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                   END) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS conv
               FROM events),
        tch AS (SELECT user_id, conv, event_type AS channel, ts,
                       event_id
                FROM ca WHERE event_type IN (%s)),
        sq AS (SELECT channel, conv,
               row_number() OVER (PARTITION BY user_id, conv
                 ORDER BY ts, event_id) AS rn,
               lead(channel) OVER (PARTITION BY user_id, conv
                 ORDER BY ts, event_id) AS nxt
               FROM tch),
        trans AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
                  FROM (SELECT channel AS src,
                               COALESCE(nxt, CASE WHEN conv > 0
                                 THEN 'CONV' ELSE 'NULL' END) AS dst
                        FROM sq
                        UNION ALL
                        SELECT 'START', channel FROM sq WHERE rn = 1)
                  GROUP BY src, dst),
        tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS t FROM trans
                GROUP BY src),
        pm AS MATERIALIZED (SELECT %s FROM trans JOIN tot
                            USING (src))
    """ % (", ".join("'%s'" % c for c in chans), pcols)
    variants = [("b", None)] + [("k%s" % c, c) for c in chans]
    ctes = [head]
    for tag, knocked in variants:
        ctes.append("%s0 AS (SELECT %s FROM pm)" % (
            tag, ", ".join("CAST(0 AS BIGINT) AS v_%s" % s.lower()
                           for s in srcs)))
        for it in range(1, iterations + 1):
            exprs = []
            for s in srcs:
                if s == knocked:
                    exprs.append("CAST(0 AS BIGINT) AS v_%s"
                                 % s.lower())
                    continue
                terms = ["pm.p_%s_%s * v_%s"
                         % (s.lower(), c.lower(), c.lower())
                         for c in chans if c != knocked]
                terms.append("pm.p_%s_conv * 1000000" % s.lower())
                exprs.append("CAST((%s) // 1000 AS BIGINT) AS v_%s"
                             % (" + ".join(terms), s.lower()))
            ctes.append("%s%d AS MATERIALIZED (SELECT %s"
                        " FROM %s%d, pm)"
                        % (tag, it, ", ".join(exprs), tag, it - 1))
    eff = {c: "(b%d.v_start - k%s%d.v_start)"
           % (iterations, c, iterations) for c in chans}
    tot_eff = " + ".join(eff[c] for c in chans)
    share, prior = {}, []
    for i, c in enumerate(chans):
        if i < len(chans) - 1:
            share[c] = ("CASE WHEN (%s) <= 0 THEN 0 ELSE "
                        "%s * 1000 // (%s) END"
                        % (tot_eff, eff[c], tot_eff))
            prior.append(share[c])
        else:
            share[c] = ("CASE WHEN (%s) <= 0 THEN 0 ELSE "
                        "1000 - (%s) END"
                        % (tot_eff, ") - (".join(prior)))
    froms = ", ".join(["b%d" % iterations]
                      + ["k%s%d" % (c, iterations) for c in chans])
    selects = " UNION ALL ".join(
        "SELECT '%s' AS channel, "
        "CAST(b%d.v_start AS BIGINT) AS base_conv_micro, "
        "CAST(k%s%d.v_start AS BIGINT) AS removed_conv_micro, "
        "CAST(%s AS BIGINT) AS removal_effect_micro, "
        "CAST(%s AS BIGINT) AS attribution_permille FROM %s"
        % (c, iterations, c, iterations, eff[c], share[c], froms)
        for c in chans)
    return ("WITH " + ", ".join(ctes) + " SELECT * FROM (" + selects
            + ") ORDER BY channel")


def oracle_sql() -> dict[str, str]:
    return {
        # Wilson lower bound, identical pinned expression order
        "stats_wilson_domains": """
            WITH g AS (
              SELECT source AS "group",
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0
                          END) AS BIGINT) AS n_pass
              FROM documents GROUP BY source)
            SELECT "group", n, n_pass,
                   round((CAST(n_pass AS DOUBLE) / n
                          + (1.96 * 1.96) / (2.0 * n)
                          - 1.96 * sqrt(((CAST(n_pass AS DOUBLE) / n)
                                         * (1.0 - CAST(n_pass
                                            AS DOUBLE) / n)
                                         + (1.96 * 1.96) / (4.0 * n))
                                        / n))
                         / (1.0 + (1.96 * 1.96) / n), 6)
                     AS wilson_lb
            FROM g ORDER BY "group" """,
        # STRAND pairing replayed on the closed-form tagged table
        "crawl_strand_pairs": """
            WITH tagged AS (
              SELECT 'h' || (doc_id % 2) || '.example.org' AS host,
                     '/{lang}/page' || (doc_id // 4) AS template,
                     CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                          WHEN 2 THEN 'de' ELSE 'sv' END AS lang,
                     'https://h' || (doc_id % 2) || '.example.org/'
                       || CASE doc_id % 4 WHEN 0 THEN 'en'
                               WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
                               ELSE 'sv' END
                       || '/page' || (doc_id // 4) AS url
              FROM documents)
            SELECT a.host, a.template,
                   a.lang AS lang_a, a.url AS url_a,
                   b.lang AS lang_b, b.url AS url_b
            FROM tagged a JOIN tagged b
              ON a.host = b.host AND a.template = b.template
             AND a.lang < b.lang
            ORDER BY a.host, a.template, lang_a, lang_b""",
        # Luhn card detection: planted check digits, validity stated
        # closed-form (visa true digit 1, amex true digit 5)
        "clean_card_pii": """
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
            FROM rows_ ORDER BY doc_id, candidate""",
        # Simple Good-Turing: Z transform + log-log OLS, expression
        # order pinned to the Spark side
        "text_sgt": r"""
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
            FROM pts, ft2, tot ORDER BY r""",
        # SALSA closed form over the planted biclique + pair blocks
        "kg_salsa": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nblocks
                   FROM blk),
            rows_ AS (
              -- biclique hubs b, b+1: degree 2, comp 2b, n_comp 2,
              -- deg_comp 4; biclique authorities b+10, b+11: same
              -- with component 2b (min bipartite id)
              SELECT 'hub' AS side, b + 0 AS node,
                     CAST(2 AS BIGINT) AS degree,
                     2 * b AS component, CAST(2 AS BIGINT) AS n_comp,
                     CAST(4 AS BIGINT) AS deg_comp FROM blk
              UNION ALL
              SELECT 'hub', b + 1, 2, 2 * b, 2, 4 FROM blk
              UNION ALL
              SELECT 'authority', b + 10, 2, 2 * b, 2, 4 FROM blk
              UNION ALL
              SELECT 'authority', b + 11, 2, 2 * b, 2, 4 FROM blk
              UNION ALL
              SELECT 'hub', b + 2, 1, 2 * b + 4, 1, 1 FROM blk
              UNION ALL
              SELECT 'authority', b + 12, 1, 2 * b + 4, 1, 1
              FROM blk)
            SELECT side, node, degree,
                   CAST(component AS BIGINT) AS component,
                   n_comp, deg_comp,
                   CAST(n_comp * degree * 1000000
                        // (3 * CAST(nblocks AS HUGEINT) * deg_comp)
                     AS BIGINT) AS score_ppm
            FROM rows_, nb ORDER BY side, node""",
        # KN doc scoring: model CTE shared with text_kneser_ney
        "text_kn_score": r"""
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
            ORDER BY d.doc_id""",
        # Good-Turing frequency-of-frequencies + adjusted counts
        "text_good_turing": r"""
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
            FROM lagged ORDER BY r""",
        # Kneser-Ney bigram: quarter-integer discount, HUGEINT-exact
        "text_kneser_ney": r"""
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
            ORDER BY w1, w2""",
        # OPIC: 3 unrolled cash-distribution rounds, integer-exact
        "crawl_opic": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            edges AS (
              SELECT b AS u, b + 1 AS v FROM blk
              UNION ALL SELECT b + 1, b + 2 FROM blk
              UNION ALL SELECT b + 2, b FROM blk
              UNION ALL SELECT b + 2, b + 5 FROM blk
              UNION ALL SELECT b + 5, b + 6 FROM blk
              UNION ALL SELECT b + 6, b + 5 FROM blk
              UNION ALL SELECT b + 6, b + 7 FROM blk),
            nodes AS (SELECT DISTINCT u AS node FROM edges
                      UNION SELECT DISTINCT v FROM edges),
            odt AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS od
                    FROM edges GROUP BY u),
            nn AS (SELECT COUNT(*) AS n FROM nodes),
            s0 AS (
              SELECT node, COALESCE(od, 0) AS od,
                     1000000000000 // n AS cash,
                     CAST(0 AS BIGINT) AS history
              FROM nodes LEFT JOIN odt USING (node), nn),
            s1 AS (
              SELECT s.node, s.od,
                     CASE WHEN s.od > 0 THEN s.cash % s.od
                          ELSE s.cash END
                       + COALESCE(r.recv, 0) AS cash,
                     s.history
                       + CASE WHEN s.od > 0
                              THEN s.cash - s.cash % s.od
                              ELSE 0 END AS history
              FROM s0 s LEFT JOIN (
                SELECT e.v AS node,
                       SUM(p.cash // p.od) AS recv
                FROM edges e JOIN s0 p
                  ON e.u = p.node AND p.od > 0
                GROUP BY e.v) r USING (node)),
            s2 AS (
              SELECT s.node, s.od,
                     CASE WHEN s.od > 0 THEN s.cash % s.od
                          ELSE s.cash END
                       + COALESCE(r.recv, 0) AS cash,
                     s.history
                       + CASE WHEN s.od > 0
                              THEN s.cash - s.cash % s.od
                              ELSE 0 END AS history
              FROM s1 s LEFT JOIN (
                SELECT e.v AS node,
                       SUM(p.cash // p.od) AS recv
                FROM edges e JOIN s1 p
                  ON e.u = p.node AND p.od > 0
                GROUP BY e.v) r USING (node)),
            s3 AS (
              SELECT s.node, s.od,
                     CASE WHEN s.od > 0 THEN s.cash % s.od
                          ELSE s.cash END
                       + COALESCE(r.recv, 0) AS cash,
                     s.history
                       + CASE WHEN s.od > 0
                              THEN s.cash - s.cash % s.od
                              ELSE 0 END AS history
              FROM s2 s LEFT JOIN (
                SELECT e.v AS node,
                       SUM(p.cash // p.od) AS recv
                FROM edges e JOIN s2 p
                  ON e.u = p.node AND p.od > 0
                GROUP BY e.v) r USING (node))
            SELECT node, CAST(od AS BIGINT) AS out_degree,
                   CAST(cash AS BIGINT) AS cash,
                   CAST(history AS BIGINT) AS history,
                   CAST(cash + history AS BIGINT) AS priority
            FROM s3 ORDER BY node""",
        # hashed linear classifier: same md5 bucket + Knuth-residue
        # weights + integer mean-pooling, replayed closed-form
        "text_hashed_classifier": r"""
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
            ORDER BY doc_id""",
        # MP4/WebM header decode: every field closed-form from doc_id
        # (even = ISO-BMFF 232 B, odd = WebM 51 B)
        "mm_video_meta": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'mp4'
                        ELSE 'webm' END AS container,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1000
                        ELSE 1000000 END AS BIGINT) AS timescale,
                   CAST(5000 + (doc_id * 37) % 60000 AS BIGINT)
                     AS duration_ms,
                   CAST(160 + doc_id % 1760 AS INT) AS width,
                   CAST(120 + (doc_id * 3) % 960 AS INT) AS height,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 232
                        ELSE 51 END AS BIGINT) AS n_bytes
            FROM documents ORDER BY doc_id""",
        # PEP preamble distillation, every triple closed-form from
        # doc_id (day/month/year arithmetic mirrors the planted text)
        "pep_docs": """
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
            ORDER BY subj, pred, obj""",
        # ECMA catalog: two planted mentions per page, counted per
        # distinct basefile; URLs from the document_url_template
        "ecma_standards": """
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
            FROM m GROUP BY basefile ORDER BY basefile""",
        "kg_doc_triples":
            "WITH " + _F_CTE + ", " + _DOC_TRIPLES
            + " SELECT * FROM doc_triples",
        "kg_section_triples":
            "WITH " + _F_CTE + ", " + _SEC_TRIPLES
            + " SELECT * FROM sec_triples",
        "kg_mention_triples":
            "WITH " + _F_CTE + ", " + _MENTION_TRIPLES
            + " SELECT * FROM mention_triples",
        "kg_entity_mentions":
            "WITH " + _F_CTE + ", " + _ENTITY_TRIPLES
            + " SELECT * FROM entity_triples",
        "kg_triples_by_pred":
            _ALL_TRIPLES_WITH
            + " SELECT pred, COUNT(*) AS n FROM all_triples GROUP BY pred",
        "kg_faceted_data":
            _FACETED_WITH + " SELECT * FROM faceted",
        "kg_sameas_canonical": "WITH " + _F_CTE + """,
            verts AS (
              SELECT DISTINCT v FROM (
                SELECT doc_id AS v FROM f WHERE doc_id % 4 <> 0
                UNION ALL
                SELECT doc_id - 1 FROM f WHERE doc_id % 4 <> 0))
            SELECT 'https://example.org/res/doc/' || v AS uri,
                   'https://example.org/res/doc/' || (v - (v % 4))
                     AS canonical_uri
            FROM verts""",
        "kg_links": "WITH " + _F_CTE + """
            SELECT url, (CASE WHEN (doc_id + k) % 10 < 3
                         THEN 'https://hot.example.org/'
                         ELSE 'https://example.org/' END)
                   || 'docs/' || source || '/' || (doc_id + k) AS href
            FROM f, (VALUES (1), (2)) AS offs(k)""",
        # host-pair rollup of the same closed-form link graph
        "kg_host_graph": "WITH " + _F_CTE + """,
            l AS (
              SELECT url, doc_id,
                     CASE WHEN doc_id % 10 < 3
                          THEN 'hot.example.org'
                          ELSE 'example.org' END AS src_host,
                     CASE WHEN (doc_id + k) % 10 < 3
                          THEN 'hot.example.org'
                          ELSE 'example.org' END AS dst_host
              FROM f, (VALUES (1), (2)) AS offs(k))
            SELECT src_host, dst_host, COUNT(*) AS n_links,
                   COUNT(DISTINCT url) AS n_src_pages
            FROM l GROUP BY 1, 2 ORDER BY 1, 2""",
        "kg_toc_pagesets": _FACETED_WITH + """
            SELECT facet, value, n_docs FROM (
              SELECT 'year' AS facet, CAST(year AS VARCHAR) AS value,
                     COUNT(*) AS n_docs FROM faceted GROUP BY 2
              UNION ALL
              SELECT 'firstletter',
                     substr(regexp_replace(regexp_replace(
                       lower(trim(dcterms_title)), '^the ', ''),
                       '[^a-z0-9]', '', 'g'), 1, 1),
                     COUNT(*) FROM faceted GROUP BY 2
              UNION ALL
              SELECT 'publisher', dcterms_publisher, COUNT(*)
              FROM faceted GROUP BY 2)""",
        "kg_api_stats": _FACETED_WITH + """
            SELECT dimension, value, COUNT(*) AS values_count FROM (
              SELECT DISTINCT 'rdf_type' AS dimension, rdf_type AS value,
                     uri FROM faceted
              UNION ALL SELECT DISTINCT 'dcterms_publisher',
                     dcterms_publisher, uri FROM faceted
              UNION ALL SELECT DISTINCT 'year', CAST(year AS VARCHAR),
                     uri FROM faceted)
            GROUP BY dimension, value""",
        "kg_extracted_docs": "WITH " + _F_CTE + """
            SELECT url, doc_id, doc_uri,
                   CASE WHEN doc_id % 5 = 4 THEN 'rfc' ELSE 'html' END
                     AS kind,
                   title, lang, identifier, issued, subject,
                   doc_id % 7 AS publisher_id,
                   'Entity ' || (doc_id % 50) AS entity_label,
                   CASE WHEN doc_id % 4 <> 0 THEN doc_id - 1 END
                     AS same_as_id,
                   CAST(n_sections + (CASE WHEN doc_id % 2 = 0
                        THEN CEIL(n_sections / 2.0)
                        ELSE FLOOR(n_sections / 2.0) END) AS INT) AS n_parts
            FROM f""",
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2))))
                     AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "top_revenue_orders": """
            SELECT o_orderkey, o_orderdate,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2))))
                     AS DOUBLE) AS revenue
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'O'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        "latest_event_per_user": """
            SELECT user_id, event_id, event_type, value FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
                AS rn FROM events) WHERE rn = 1""",
        "feed_archive_pages": """
            SELECT event_type, archive_page, COUNT(*) AS n,
                   MIN(event_id) AS min_event FROM (
              SELECT event_type, event_id,
                     CAST(FLOOR((ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY ts DESC, event_id) - 1) / 100) AS BIGINT)
                       AS archive_page
              FROM events)
            GROUP BY event_type, archive_page""",
        "event_type_user_stats": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type""",
        "events_month_histogram": """
            SELECT strftime(ts, '%Y-%m') AS month, COUNT(*) AS n
            FROM events GROUP BY 1""",
        "events_windowed_counts": """
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR
                     AS window_end,
                   event_type, COUNT(*) AS n_events
            FROM events GROUP BY 1, 2, 3""",
        # as-of: LATERAL top-1 is the declarative twin of the
        # tag-union window implementation
        "events_asof_attribution": """
            SELECT p.event_id, p.user_id,
                   c.click_event_id AS asof_click_event_id,
                   c.click_ts AS asof_click_ts
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            LEFT JOIN LATERAL (
              SELECT event_id AS click_event_id, ts AS click_ts
              FROM events e
              WHERE e.event_type = 'click'
                AND e.user_id = p.user_id AND e.ts <= p.ts
              ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) c ON TRUE
            ORDER BY p.event_id""",
        "events_range_join": """
            SELECT p.event_id AS purchase_id,
                   s.event_id AS signup_id, p.user_id
            FROM events p JOIN events s
              ON s.user_id = p.user_id
            WHERE p.event_type = 'purchase'
              AND s.event_type = 'signup'
              AND p.ts >= s.ts
              AND p.ts < s.ts + INTERVAL 24 HOUR
            ORDER BY 1, 2""",
        # z from exact integer sums: mean = sn/d, var = sn2/d - mean^2
        "events_anomalies": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
              FROM events GROUP BY 1),
            st AS (
              SELECT COUNT(*) AS d,
                     SUM(n_events) AS sn,
                     SUM(n_events * n_events) AS sn2
              FROM daily)
            SELECT CAST(day AS VARCHAR) AS day, n_events,
                   round((n_events - sn * 1.0 / d)
                         / sqrt(sn2 * 1.0 / d
                                - (sn * 1.0 / d) * (sn * 1.0 / d)),
                         6) AS z,
                   abs(round((n_events - sn * 1.0 / d)
                         / sqrt(sn2 * 1.0 / d
                                - (sn * 1.0 / d) * (sn * 1.0 / d)),
                         6)) > 2.0 AS is_anomaly
            FROM daily CROSS JOIN st ORDER BY day""",
        # script counts over the same planted runs; dominance CASE
        # in declaration order (latin, cyrillic, cjk, arabic)
        "text_script_mix": """
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
            FROM c ORDER BY doc_id""",
        # Flesch reading ease, vowel-group syllable proxy, planted
        # sentence structure
        "text_readability": r"""
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
            ORDER BY doc_id""",
        # strict-sequence funnel: step k's earliest event must be
        # strictly after the step-(k-1) arrival
        "events_funnel": """
            WITH s1 AS (
              SELECT user_id AS u, MIN(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (
              SELECT e.user_id AS u, MIN(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.u
                                   AND e.ts > s1.t
              WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (
              SELECT e.user_id AS u, MIN(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.u
                                   AND e.ts > s2.t
              WHERE e.event_type = 'purchase' GROUP BY e.user_id)
            SELECT 1 AS step, 'view' AS step_name,
                   (SELECT COUNT(*) FROM s1) AS n_users
            UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
            UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
            ORDER BY step""",
        "events_retention": """
            WITH f AS (
              SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS cohort_day
              FROM events GROUP BY user_id),
            a AS (
              SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
              FROM events)
            SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
                   date_diff('day', cohort_day, d) AS day_offset,
                   COUNT(*) AS n_users
            FROM a JOIN f USING (u)
            GROUP BY 1, 2 ORDER BY 1, 2""",
        "events_sessions": """
            WITH l AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN ts - lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 1800 SECOND THEN 1 ELSE 0 END
                       AS new_s
              FROM events),
            s AS (
              SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS session_seq
              FROM l)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM s GROUP BY 1, 2""",
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
        "wiki_links": """
            SELECT doc_id, 'Doc ' || doc_id AS title,
                   'Src ' || source AS category,
                   'Entity ' || (doc_id % 50) AS target
            FROM documents
            UNION ALL
            SELECT doc_id, 'Doc ' || doc_id, 'Src ' || source,
                   'Topic ' || (doc_id % 11)
            FROM documents""",
        "search_documents": """
            SELECT doc_id,
                   (CASE WHEN lower(text) LIKE '%spark%' THEN 1.0 ELSE 0.0 END
                    + CASE WHEN lower(text) LIKE '%merge%' THEN 1.0 ELSE 0.0 END)
                     AS score
            FROM documents
            WHERE lower(text) LIKE '%spark%' AND lower(text) LIKE '%merge%'
            ORDER BY score DESC, doc_id LIMIT 20""",
        "autocomplete_titles": _FACETED_WITH + """
            SELECT uri, dcterms_title FROM faceted
            WHERE lower(dcterms_title) LIKE 'document 1%'
            ORDER BY dcterms_title, uri LIMIT 15""",
        "dedup_exact": """
            SELECT md5(substr(text, 1, 40)) AS text_md5,
                   COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
            FROM documents GROUP BY 1""",
        # window-hash exact-substring dedup: 4-token windows, hashes
        # in >=2 distinct docs, overlapping windows merged into
        # maximal spans (gap > window opens a new island)
        "dedup_repeated_spans": r"""
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
            ORDER BY doc_id, span_start""",
        # same spans pipeline, then cut covered tokens and rebuild
        # the text token-level (whitespace runs collapse — the
        # token-dedup contract); docs with nothing cut pass through
        "dedup_span_removed": r"""
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
            ORDER BY t.doc_id""",
        "search_year_range": _FACETED_WITH + """
            SELECT uri, dcterms_issued, year FROM faceted
            WHERE dcterms_issued > '2020-12-31'
              AND dcterms_issued < '2022-01-01'""",
        "dedup_minhash_pairs": "WITH " + _MINHASH_CTE + """
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id""",
        # estimated Jaccard = agreeing minhash components / 8
        "dedup_minhash_estimate": "WITH " + _MINHASH_CTE + """,
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
            FROM agg ORDER BY doc_a, doc_b""",
        # LSH candidates verified by exact normalized Levenshtein;
        # both-empty pairs define sim = 1.0
        "dedup_edit_verified": "WITH " + _MINHASH_CTE + """,
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
            WHERE edit_sim >= 0.8 ORDER BY doc_a, doc_b""",
        # signatures are per-doc, so bucketing all docs then splitting
        # equals bucketing each side separately
        "dedup_incremental": "WITH " + _MINHASH_CTE + """
            SELECT DISTINCT n.doc_id AS new_doc, b.doc_id AS base_doc
            FROM banded n JOIN banded b
              ON n.band = b.band AND n.bucket = b.bucket
            WHERE n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
            ORDER BY new_doc, base_doc""",
        # transitive closure over the pair graph (recursive CTE;
        # DuckDB's UNION-dedup in recursive CTEs guarantees
        # termination), canonical = min reachable doc id
        "dedup_minhash_clusters": "WITH RECURSIVE " + _MINHASH_CTE + """,
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
            FROM reach GROUP BY v""",
        # Containment: excerpt corpus, 3-gram shingles, hot guard,
        # per-direction denominator = the GUARDED source size
        "dedup_containment": r"""
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
            ORDER BY doc_a, doc_b""",
        # Meta-blocking: 2-gram blocks, purge at 2..20, CBS weights,
        # weighted node pruning on mean incident weight (exact avg:
        # sum-of-longs / count, one IEEE division per node)
        "dedup_meta_blocking": "WITH " + _TOKS_CTE + r""",
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
            ORDER BY ps.cbs DESC, doc_a, doc_b LIMIT 500""",
        "dedup_jaccard_pairs": "WITH " + _SH_CTE + """,
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
            SELECT * FROM j WHERE jaccard >= 0.1""",
        "dedup_simhash": _simhash_sql(),
        "text_token_stats": _TOKEN_STATS_SQL,
        # Spark percentile() and DuckDB quantile_cont share the exact
        # linear-interpolation definition — bit-identical, probed
        "text_length_quantiles": r"""
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
            FROM toks GROUP BY source ORDER BY source""",
        # Gopher A1.1 rules mirrored expression-by-expression
        "text_gopher_rules": r"""
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
            FROM feat ORDER BY doc_id""",
        # unigram Shannon entropy: H = ln n - (1/n) sum c ln c
        "text_entropy": r"""
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
            FROM cnt GROUP BY doc_id ORDER BY doc_id""",
        # top-3 tf*ln(N/df) per doc, ranked on the rounded score
        "text_tfidf_terms": r"""
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
            WHERE rank <= 3 ORDER BY doc_id, rank""",
        # add-one smoothed bigram LM trained on the corpus itself;
        # avg of doubles rounded to 6 digits (sum-order portability)
        "text_lm_score": r"""
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
            GROUP BY doc_id ORDER BY doc_id""",
        # CCNet head/middle/tail: rank-based integer tertiles over
        # the (lang, score) aggregate — c_before * 3 // n_lang, the
        # whole tie group in the bucket of its first member
        "text_ccnet_buckets": r"""
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
            ORDER BY d.doc_id""",
        "text_quality": "WITH s AS (" + _TOKEN_STATS_SQL + """)
            SELECT doc_id, round(q, 2) AS quality, q >= 0.7 AS keep FROM (
              SELECT doc_id,
                     (CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
                      + CASE WHEN avg_token_len <= 12.0 THEN 0.3
                        ELSE 0.0 END
                      + CASE WHEN punct_ratio <= 0.2 THEN 0.3
                        ELSE 0.0 END) AS q
              FROM s)""",
        "text_lang_id": r"""
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
                   lang = lang_guess AS lang_match FROM g""",
        "text_fingerprint": "WITH " + _TOKS_CTE + """,
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
            FROM fp GROUP BY doc_id""",
        # SQ8: per-dim min/max -> int8 codes -> bin-midpoint
        # dequantize -> asymmetric cosine; mirrors sq8_topk exactly
        "sim_sq8_topk": "WITH " + _EMB_CTE + """,
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
            WHERE rank <= 10""",
        "sim_cosine_topk": "WITH " + _EMB_CTE + """,
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
            WHERE rank <= 10""",
        # C4 §2.2 page rules over the synthesized sentence structure:
        # line kept iff terminal punct AND >= 5 words; page kept iff
        # >= 3 sentences and neither planted poison
        "text_c4_rules": r"""
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
            FROM s ORDER BY doc_id""",
        "clean_strip_boilerplate": r"""
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
            FROM d LEFT JOIN reb USING (doc_id)""",
        "clean_redact_pii": """
            SELECT doc_id,
                   text || ' contact <EMAIL> from <IP>' AS text_redacted
            FROM documents""",
        "clean_repetition_stats": r"""
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
            FROM g""",
        "clean_contaminated": r"""
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
            FROM hits GROUP BY doc_id""",
        # portable md5-prefix bucket, the cross-engine sampling
        # contract (ferenda_spark.operators.training.portable_bucket)
        "train_stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 8)) AS BIGINT) % 10000
                  < CASE source WHEN 'src0' THEN 5000
                                WHEN 'src1' THEN 2500
                                WHEN 'src2' THEN 8000
                                ELSE 1000 END""",
        "train_packed_sequences": r"""
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
            FROM c""",
        "train_doc_chunks": """
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
            FROM s""",
        # mirrors training.train_corpus stage by stage over the same
        # planted-PII text: exact keep-one -> LSH cluster keep-one ->
        # quality gate -> closed-form redaction -> chunking
        "train_corpus_pipeline": r"""
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
            FROM cs""",
        "train_mixture_order": """
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
            FROM b""",
        # full-probe IVF == exact brute force (candidate generation
        # over ALL inverted lists loses nothing); distinct ids/k from
        # sim_cosine_topk
        "sim_ivf_topk": "WITH " + _EMB_CTE + """,
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
            WHERE rank <= 8""",
        # pruned IVF over the closed-form clustered corpus
        # (similarity.clustered_embeddings): cross-cluster cosine is
        # exactly 0 (disjoint support), so nprobe=1 against the true
        # one-hot centroids = global exact top-k; cosine has the
        # closed form (1 + eq*ev) / (sqrt(1+eq^2)*sqrt(1+ev^2))
        "sim_ivf_topk_pruned": """
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
            WHERE rank <= 8""",
        "dedup_semantic": """
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
            FROM base ORDER BY vec_id""",
        "train_domain_cap": """
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
            WHERE rank <= 5 ORDER BY host, rank""",
        # DSIR: add-one smoothed hashed-unigram LLR against the
        # lang='en' target slice; bucket = first-8-md5-hex % 1024
        # (the portable_bucket contract), weights rounded to 6 digits
        "train_dsir_weights": r"""
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
            ORDER BY sc.doc_id""",
        # centroid = per-(label, dim) mean; norm/dist = ORDERED
        # left-to-right folds (list_reduce == F.aggregate sequence)
        "sim_centroid_dist": "WITH " + _EMB_CTE + """,
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
            ORDER BY el.vec_id""",
        "sim_lsh_topk": "WITH " + _EMB_CTE + """,
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
            WHERE rank <= 10""",
        "mm_image_meta": """
            SELECT doc_id,
                   CAST(16 + (length(text) % 240) AS INT) AS width,
                   CAST(16 + ((ascii(substr(text, 1, 1)) * 7) % 240)
                     AS INT) AS height,
                   CAST((16 + (length(text) % 240))
                        * (16 + ((ascii(substr(text, 1, 1)) * 7) % 240))
                     AS BIGINT) AS n_pixels,
                   'stub/raw' AS format,
                   CAST(length(text) AS BIGINT) AS n_bytes
            FROM documents""",
        # mirrors multimodal.synth_image_blobs: doc_id % 4 selects the
        # format (0 PNG / 1 JPEG / 2 GIF / 3 BMP), dims closed-form
        # mirrors multimodal.synth_gray_blobs + gray_dhash_bytes:
        # pixels closed-form in doc_id, bit (r,c) = p(r,c) > p(r,c+1)
        # packed at r*8+c (56 bits, positive BIGINT in both engines)
        "mm_image_dhash": """
            WITH grid AS (
              SELECT doc_id, doc_id // 2 AS base, r.r, c.c
              FROM documents,
                   (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT)
                      AS r) r,
                   (SELECT CAST(unnest(generate_series(0, 8)) AS BIGINT)
                      AS c) c),
            px AS (
              SELECT doc_id, r, c,
                     ((((base * 2654435761) % 1048573)
                       * ((r*9+c+1) * (r*9+c+2) * (r*9+c+5))
                       + base + r * 9 + c) % 509 % 256
                      + (doc_id % 2)
                        * (CASE WHEN base % 63 = r * 9 + c
                                THEN 128 ELSE 0 END)) % 256 AS p
              FROM grid),
            bits AS (
              SELECT a.doc_id, a.r, a.c,
                     CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
              FROM px a JOIN px b
                ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
              WHERE a.c < 8),
            dh AS (
              SELECT doc_id,
                     CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 8 + c)))
                          AS BIGINT) AS dhash
              FROM bits GROUP BY doc_id)
            SELECT doc_id, dhash FROM dh ORDER BY doc_id""",
        # banded Hamming LSH over the same dhash CTE: 4 x 14-bit
        # bands, candidate on band equality, verify bit_count(xor)
        "mm_image_dhash_pairs": """
            WITH grid AS (
              SELECT doc_id, doc_id // 2 AS base, r.r, c.c
              FROM documents,
                   (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT)
                      AS r) r,
                   (SELECT CAST(unnest(generate_series(0, 8)) AS BIGINT)
                      AS c) c),
            px AS (
              SELECT doc_id, r, c,
                     ((((base * 2654435761) % 1048573)
                       * ((r*9+c+1) * (r*9+c+2) * (r*9+c+5))
                       + base + r * 9 + c) % 509 % 256
                      + (doc_id % 2)
                        * (CASE WHEN base % 63 = r * 9 + c
                                THEN 128 ELSE 0 END)) % 256 AS p
              FROM grid),
            bits AS (
              SELECT a.doc_id, a.r, a.c,
                     CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
              FROM px a JOIN px b
                ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
              WHERE a.c < 8),
            dh AS (
              SELECT doc_id,
                     CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 8 + c)))
                          AS BIGINT) AS dhash
              FROM bits GROUP BY doc_id),
            sliced AS (
              SELECT doc_id, dhash, b.band,
                     (dhash >> (b.band * 14)) % 16384 AS val
              FROM dh,
                   (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT)
                      AS band) b),
            cand AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                     bit_count(xor(x.dhash, y.dhash)) AS distance
              FROM sliced x JOIN sliced y
                ON x.band = y.band AND x.val = y.val
               AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b, CAST(distance AS INT) AS distance
            FROM cand WHERE distance <= 6
            ORDER BY doc_a, doc_b""",
        "mm_image_meta_real": """
            WITH dims AS (
              SELECT doc_id,
                     CASE doc_id % 4
                       WHEN 0 THEN 16 + doc_id % 240
                       WHEN 1 THEN 8 + doc_id % 500
                       WHEN 2 THEN 4 + (doc_id * 5) % 320
                       ELSE 10 + doc_id % 600 END AS w,
                     CASE doc_id % 4
                       WHEN 0 THEN 16 + (doc_id * 7) % 240
                       WHEN 1 THEN 8 + (doc_id * 3) % 300
                       WHEN 2 THEN 4 + (doc_id * 11) % 200
                       ELSE 10 + (doc_id * 13) % 400 END AS h,
                     CASE doc_id % 4
                       WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                       WHEN 2 THEN 'image/gif' ELSE 'image/bmp' END AS fmt,
                     CASE doc_id % 4
                       WHEN 0 THEN 33 WHEN 1 THEN 17
                       WHEN 2 THEN 14 ELSE 30 END AS nb
              FROM documents)
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(w * h AS BIGINT) AS n_pixels, fmt AS format,
                   CAST(nb AS BIGINT) AS n_bytes
            FROM dims""",
        # mirrors multimodal.synth_wav_blobs: 44-byte canonical WAV
        # headers, every decoded field closed-form in doc_id
        "mm_audio_meta": """
            WITH wav AS (
              SELECT doc_id, 1 + doc_id % 2 AS ch,
                     8000 + (doc_id % 5) * 4000 AS rate,
                     1 + doc_id % 441 AS ns
              FROM documents)
            SELECT doc_id, CAST(ch AS INT) AS channels,
                   CAST(rate AS INT) AS sample_rate, CAST(16 AS INT) AS bits,
                   CAST(ns AS BIGINT) AS n_samples,
                   CAST(ns * 1000 // rate AS BIGINT) AS duration_ms,
                   CAST(44 AS BIGINT) AS n_bytes
            FROM wav""",
        "mm_frame_sample": """
            WITH fr AS (
              SELECT doc_id,
                     unnest(generate_series(0, length(text) % 4)) AS i
              FROM documents)
            SELECT doc_id, CAST(i AS INT) AS frame_idx,
                   CAST(i AS DOUBLE) / 2.0 AS frame_ts FROM fr""",
        "kg_keyword_terms": "WITH " + _F_CTE + """
            SELECT subject AS term, COUNT(DISTINCT url) AS n_docs,
                   array_to_string(list_sort(list(DISTINCT url)), ',')
                     AS sources
            FROM f GROUP BY subject""",
        "kg_triple_stats": _ALL_TRIPLES_WITH + """
            SELECT context, COUNT(*) AS n_triples,
                   COUNT(DISTINCT subj) AS n_subjects
            FROM all_triples GROUP BY context""",
        "kg_ispartof_closure": "WITH " + _F_CTE + """
            SELECT doc_uri || '#S' || s AS uri, doc_uri AS ancestor_uri,
                   1 AS depth FROM secs
            UNION ALL
            SELECT doc_uri || '#S' || s || '.1', doc_uri || '#S' || s, 1
            FROM subs
            UNION ALL
            SELECT doc_uri || '#S' || s || '.1', doc_uri, 2 FROM subs""",
        "kg_citation_counts": "WITH " + _F_CTE + ", " + _MENTION_TRIPLES
            + """
            SELECT obj AS target_uri, COUNT(*) AS n_mentions,
                   COUNT(DISTINCT context) AS n_citing_docs
            FROM mention_triples GROUP BY obj""",
        "kg_pagerank": _pagerank_sql(iterations=10, damping=0.85),
        "kg_hits": _hits_sql(iterations=10),
        "kg_link_validation": "WITH " + _F_CTE + """,
            links AS (
              SELECT url, (CASE WHEN (doc_id + k) % 10 < 3
                           THEN 'https://hot.example.org/'
                           ELSE 'https://example.org/' END)
                     || 'docs/' || source || '/' || (doc_id + k) AS href
              FROM f, (VALUES (1), (2)) AS offs(k))
            SELECT l.url, l.href, t.url IS NOT NULL AS target_exists
            FROM links l
            LEFT JOIN (SELECT DISTINCT url FROM f) t ON t.url = l.href""",
        "kg_fuzzy_entity_links": """
            WITH res AS (
              SELECT 'https://example.org/res/entity/' || g AS entity_uri,
                     'Entity ' || g AS rlabel
              FROM generate_series(0, 49) t(g)
              UNION ALL
              SELECT 'https://example.org/res/org/pub' || g,
                     'Publisher ' || g
              FROM generate_series(0, 6) t(g)),
            men AS (
              SELECT doc_id AS mention_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'Enttity ' || (doc_id % 50)
                          ELSE 'Entity ' || (doc_id % 50) END AS label
              FROM documents),
            mgr AS (
              SELECT mention_id, label,
                     list_distinct(list_transform(
                       generate_series(1,
                         greatest(length(lower(label)) - 2, 1)),
                       i -> substr(lower(label), i, 3))) AS grams
              FROM men),
            rg AS (
              SELECT entity_uri,
                     list_distinct(list_transform(
                       generate_series(1,
                         greatest(length(lower(rlabel)) - 2, 1)),
                       i -> substr(lower(rlabel), i, 3))) AS grams
              FROM res),
            scored AS (
              SELECT m.mention_id, m.label, r.entity_uri,
                     CAST(len(list_intersect(m.grams, r.grams)) AS DOUBLE)
                       / (len(m.grams) + len(r.grams)
                          - len(list_intersect(m.grams, r.grams)))
                       AS jaccard
              FROM mgr m, rg r
              WHERE len(list_intersect(m.grams, r.grams)) > 0),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY mention_id
                ORDER BY jaccard DESC, entity_uri) AS rk
              FROM scored WHERE jaccard >= 0.5)
            SELECT mention_id, label, entity_uri, jaccard,
                   'fuzzy' AS method
            FROM ranked WHERE rk = 1""",
        "kg_fuzzy_links_lsh": _FUZZY_LSH_SQL,
        "versioned_current": """
            WITH v AS (
              SELECT doc_id, 1 AS rev FROM documents
              UNION ALL
              SELECT doc_id, 2 FROM documents WHERE doc_id % 5 = 0),
            u AS (SELECT doc_id, rev, doc_id*10 + rev AS updated FROM v)
            SELECT doc_id, rev, updated,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY updated DESC) AS version_rank,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY updated DESC) = 1 AS is_current
            FROM u""",
        "next_archive_version": """
            WITH v AS (
              SELECT doc_id FROM documents
              UNION ALL
              SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
            SELECT doc_id, COUNT(*) AS n_versions,
                   COUNT(*) + 1 AS next_version
            FROM v GROUP BY doc_id""",
        "patched_docs": """
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 10 = 0
                       THEN replace(text, 'the', 'THE')
                       ELSE text END) AS text_md5,
                   doc_id % 10 = 0 AS patched
            FROM documents""",
        "kg_coin_uris": "WITH " + _F_CTE + """
            SELECT url,
                   CASE WHEN sameas_uri IS NOT NULL
                        THEN 'https://example.org/res/rev/'
                             || regexp_replace(lower(trim(identifier)),
                                '[^a-z0-9]+', '-', 'g')
                             || '/' || (doc_id - 1)
                        ELSE 'https://example.org/res/doc/' || doc_id
                   END AS minted_uri,
                   CASE WHEN sameas_uri IS NOT NULL THEN 'rev'
                        ELSE 'doc' END AS template
            FROM f""",
        "kg_toc_pages": _FACETED_WITH + """
            SELECT value, uri, dcterms_title, sortkey,
                   ROW_NUMBER() OVER (PARTITION BY value
                     ORDER BY sortkey, uri) AS pos
            FROM (
              SELECT CAST(year AS VARCHAR) AS value, uri, dcterms_title,
                     regexp_replace(regexp_replace(
                       lower(trim(dcterms_title)), '^the ', ''),
                       '[^a-z0-9]', '', 'g') AS sortkey
              FROM faceted WHERE year IS NOT NULL)""",
        "news_frontpage": """
            SELECT event_type, rank, event_id, ts FROM (
              SELECT event_type, event_id, ts,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY ts DESC, event_id DESC) AS rank
              FROM events)
            WHERE rank <= 5""",
        "search_fielded": _FACETED_WITH + """
            SELECT uri, dcterms_subject, dcterms_identifier FROM faceted
            WHERE dcterms_subject = 'topic3'
              AND regexp_matches(dcterms_identifier, '^src1-.*$')""",
        "search_snippets": """
            SELECT doc_id,
                   substr(text,
                          greatest(strpos(lower(text), 'merge') - 20, 1),
                          60) AS snippet
            FROM documents
            WHERE strpos(lower(text), 'merge') > 0""",
        "kg_sql_select": "WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """
            SELECT subj, obj FROM mention_triples""",
        "kg_sparql_bgp": "WITH " + _F_CTE + """
            SELECT doc_uri AS doc, title, publisher_uri AS publisher
            FROM f""",
        "kg_sparql_optional": "WITH " + _F_CTE + """
            SELECT doc_uri AS doc, sameas_uri AS same FROM f""",
        "kg_sparql_filter": "WITH " + _F_CTE + """
            SELECT doc_uri || '#S' || s AS part, CAST(s AS VARCHAR) AS sec
            FROM secs WHERE CAST(s AS VARCHAR) >= '2'""",
        "kg_sparql_construct": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """
            SELECT DISTINCT subj,
                   'https://example.org/vocab/cites' AS pred, obj
            FROM mention_triples""",
        "kg_sparql_union": "WITH " + _F_CTE + """
            SELECT doc_uri AS s, identifier AS o FROM f
            UNION ALL
            SELECT doc_uri, entity_uri FROM f""",
        # isPartOf* closure per doc: zero-length (the doc itself) +
        # sections + subsections — closed form of the synthetic part tree
        "kg_sparql_path": "WITH " + _F_CTE + """
            SELECT doc_uri AS part, doc_uri AS doc FROM f
            UNION ALL
            SELECT doc_uri || '#S' || s, doc_uri FROM secs
            UNION ALL
            SELECT doc_uri || '#S' || s || '.1', doc_uri FROM subs""",
        # parts per container: sections under docs (n_sections =
        # 1 + doc_id % 3), subsections under sections (1 each) —
        # HAVING > 2 keeps exactly the 3-section documents
        "kg_sparql_having": "WITH " + _F_CTE + """
            SELECT doc, COUNT(*) AS n_parts FROM (
              SELECT doc_uri AS doc FROM secs
              UNION ALL
              SELECT doc_uri || '#S' || s AS doc FROM subs
            ) GROUP BY doc HAVING COUNT(*) > 2""",
        "kg_sparql_bind_values": "WITH " + _F_CTE + """
            SELECT doc_uri AS ref, subject, title FROM f
            WHERE subject IN ('topic1', 'topic4')
              AND (subject NOT IN ('topic4')
                   OR title LIKE 'Document 1%')""",
        "kg_sparql_agg": _ALL_TRIPLES_WITH + """
            SELECT pred AS p, COUNT(*) AS n,
                   COUNT(DISTINCT subj) AS subjects
            FROM all_triples GROUP BY pred""",
        # annotations.rq for doc 0: its whole part closure is
        # {doc, #S1, #S1.1} (n_sections(0)=1, (0+1)%2=1 -> subsection
        # exists); nothing dcterms:references those parts (mention
        # targets are res/rfc/ URIs), so the isReferencedBy template
        # emits nothing
        "kg_sparql_annotations": _ALL_TRIPLES_WITH + """
            SELECT DISTINCT subj, pred, obj FROM all_triples
            WHERE subj IN ('https://example.org/res/doc/0',
                           'https://example.org/res/doc/0#S1',
                           'https://example.org/res/doc/0#S1.1')""",
        # closed form of the synthetic pdf2xml layout: 1+d%2 pages x
        # 2 boxes ("Heading {d}" = 8+len(d) chars, "Body text doc {d}
        # page {p}" = 21+len(d) chars); every 23rd doc is malformed ->
        # quarantined -> absent
        "pdf_textbox_stats": """
            SELECT 'https://example.org/pdf/' || doc_id AS url,
                   CAST(1 + doc_id % 2 AS BIGINT) AS n_pages,
                   CAST(2 * (1 + doc_id % 2) AS BIGINT) AS n_boxes,
                   CAST(2 AS BIGINT) AS n_fonts,
                   CAST(12 + doc_id % 3 AS INT) AS max_font_size,
                   CAST((1 + doc_id % 2)
                        * (29 + 2 * length(CAST(doc_id AS VARCHAR)))
                        AS BIGINT) AS text_chars
            FROM documents WHERE doc_id % 23 <> 0""",
        # the planted citations have fixed-width numbers, so every
        # anchor spans constant offsets: sfs 3-35, caselaw 40-54,
        # forarbeten 60-77
        "kg_legal_mentions": """
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
                   'https://lagen.nu/prop/1997/98:' || pn FROM lm""",
        "kg_hot_domain_links_salted": "WITH " + _F_CTE + """
            SELECT CASE WHEN (doc_id + k) % 10 < 3
                        THEN 'hot' ELSE 'cold' END AS tier,
                   COUNT(*) AS n_links
            FROM f, (VALUES (1), (2)) AS offs(k)
            GROUP BY 1""",
        "pdf_section_triples": """
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
                   url FROM s""",
        # planted two-line PDF: y=720/700, size 12, zoom 1.5, with
        # poppler-parity geometry (golden-proven in test_pdftext):
        # top = xoutRound((792 - y)*1.5 - 0.718*18)  (Helvetica AFM
        # ascent 0.718) -> 95 + 30*k; height = xoutRound(0.925*18) =
        # 17; width = xoutRound(AFM_advance_units * 12/1000 * 1.5),
        # 'Line one ' = 4114 units + 556/digit, 'Second d' = 4225
        "pdf_extracted_lines": """
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
            FROM documents, (VALUES (0), (1)) AS lines(k)""",
        "wiki_rendered": """
            SELECT 'https://example.org/wiki/' || doc_id AS url,
                   CAST(1 AS INT) AS n_sections,
                   'Topic' || (doc_id % 11) AS subjects_csv,
                   '<div><p><i>Intro</i> om <a href="Entity '
                     || (doc_id % 50) || '">Entity ' || (doc_id % 50)
                     || '</a>. </p></div><h2>1 §</h2><div><p>Se '
                     || '<b>regel ' || (doc_id % 7)
                     || '</b>. </p></div>' AS body_html
            FROM documents""",
        # mirrors _q_warc_pages: parse output is closed-form in doc_id
        "warc_pages": """
            SELECT 'https://example.org/warc/doc/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + doc_id * INTERVAL 1 SECOND AS warc_ts,
                   text AS page_text,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents""",
        "word_docs": """
            SELECT 'https://example.org/word/' || doc_id AS url,
                   CASE WHEN doc_id % 17 = 0 THEN 'doc'
                        ELSE 'docx' END AS filetype,
                   CASE WHEN doc_id % 34 = 0 THEN NULL
                        ELSE 'Word doc ' || doc_id || chr(10)
                             || 'Paragraph ' || (doc_id % 7) END AS text,
                   CASE WHEN doc_id % 34 = 0
                        THEN 'unparseable word binary' END AS error
            FROM documents""",
        "word_docs_legacy": """
            SELECT 'https://example.org/word/' || doc_id AS url,
                   'doc' AS filetype,
                   'Word doc ' || doc_id || chr(10)
                     || 'Paragraph ' || (doc_id % 7) AS text,
                   CAST(NULL AS VARCHAR) AS error
            FROM documents""",
        "search_boosted": _FACETED_WITH + """
            SELECT uri, dcterms_title, dcterms_identifier,
                   (CASE WHEN lower(dcterms_title) LIKE '%7%'
                         THEN 4.0 ELSE 0.0 END
                    + CASE WHEN lower(dcterms_identifier) LIKE '%7%'
                           THEN 16.0 ELSE 0.0 END) AS score
            FROM faceted
            WHERE lower(dcterms_title) LIKE '%7%'
               OR lower(dcterms_identifier) LIKE '%7%'""",
        "search_paginated": _FACETED_WITH + """
            SELECT uri, dcterms_identifier, 0.0 AS score
            FROM faceted ORDER BY uri OFFSET 20 LIMIT 10""",
        "kg_resource_validation": "WITH " + _F_CTE + """,
            nsub AS (
              SELECT f.doc_id, f.url, f.n_sections,
                     (SELECT COUNT(*) FROM subs
                      WHERE subs.doc_id = f.doc_id) AS n_subs
              FROM f)
            SELECT url AS context,
                   CAST(1 + n_sections + n_subs AS BIGINT) AS n_resources,
                   CAST(0 AS BIGINT) AS n_duplicate_abouts,
                   (1 + n_sections + n_subs) > 5 AS over_limit
            FROM nsub""",
        "kg_repo_status": "WITH " + _F_CTE + """,
            nsub AS (
              SELECT f.doc_id, f.n_sections,
                     CASE WHEN doc_id % 5 = 4 THEN 'rfc' ELSE 'html' END
                       AS kind,
                     (SELECT COUNT(*) FROM subs
                      WHERE subs.doc_id = f.doc_id) AS n_subs
              FROM f)
            SELECT kind, COUNT(*) AS n_docs,
                   CAST(0 AS BIGINT) AS n_errors,
                   CAST(SUM(n_sections + n_subs) AS BIGINT) AS n_parts,
                   CAST(2 * COUNT(*) AS BIGINT) AS n_links
            FROM nsub GROUP BY kind""",
        "kg_deps_edges": "WITH " + _F_CTE + """
            SELECT url AS context, 'rfc' AS repo,
                   'https://example.org/res/rfc/'
                   || (100 + (doc_id * 7 + s) % 900) AS target_uri
            FROM secs
            UNION
            SELECT url, 'rfc',
                   'https://example.org/res/rfc/'
                   || (100 + (doc_id * 11 + s) % 900) || '#S' || s
            FROM subs
            UNION SELECT url, 'entity', entity_uri FROM f
            UNION SELECT url, 'org', publisher_uri FROM f""",
        "incremental_pending": "WITH " + _F_CTE + """
            SELECT url, CAST(doc_id AS BIGINT) AS doc_id FROM f
            WHERE doc_id % 5 = 2 OR doc_id % 13 = 3""",
        "kg_stats_cube": _FACETED_WITH + """,
            p AS (SELECT dcterms_publisher,
                         CAST(year AS VARCHAR) AS year, uri
                  FROM faceted)
            SELECT dcterms_publisher, year, COUNT(*) AS n_docs,
                   COUNT(DISTINCT uri) AS n_distinct_docs
            FROM p GROUP BY CUBE (dcterms_publisher, year)""",
        "dedup_embedding": "WITH " + _EMB_CTE + """,
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
            WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35""",
        "kg_canonical_triples": _ALL_TRIPLES_WITH + """,
            rewritten AS (
              SELECT
                CASE WHEN regexp_matches(subj,
                       '^https://example\\.org/res/doc/\\d+$')
                     THEN 'https://example.org/res/doc/' ||
                          (CAST(regexp_extract(subj, '(\\d+)$', 1)
                           AS BIGINT) // 4 * 4)
                     ELSE subj END AS subj,
                pred,
                CASE WHEN regexp_matches(obj,
                       '^https://example\\.org/res/doc/\\d+$')
                     THEN 'https://example.org/res/doc/' ||
                          (CAST(regexp_extract(obj, '(\\d+)$', 1)
                           AS BIGINT) // 4 * 4)
                     ELSE obj END AS obj,
                obj_datatype, obj_lang, context
              FROM all_triples)
            SELECT * FROM rewritten
            WHERE NOT (pred = 'http://www.w3.org/2002/07/owl#sameAs'
                       AND subj = obj)""",
        "kg_annotations": "WITH " + _F_CTE + """,
            nsub AS (
              SELECT f.doc_id, f.doc_uri, f.n_sections,
                     (SELECT COUNT(*) FROM subs
                      WHERE subs.doc_id = f.doc_id) AS n_subs
              FROM f)
            SELECT doc_uri,
                   CAST(n_sections + n_subs AS BIGINT) AS n_parts,
                   CAST(n_sections + n_subs AS BIGINT) AS n_part_refs
            FROM nsub""",
        "kg_snapshot_incremental":
            "WITH " + _F_CTE + ", " + _DOC_TRIPLES + """
            SELECT pred, COUNT(*) AS n_triples FROM doc_triples
            WHERE CAST(regexp_extract(subj, '(\\d+)$', 1) AS BIGINT)
                  % 3 = 0
            GROUP BY pred ORDER BY pred""",
        # full BM25: Lucene-form idf, k1=1.2 b=0.75 length norm
        "search_bm25": r"""
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
            WHERE rank <= 15 ORDER BY query, rank""",
        # newest capture per canonical URL; canonical form stated in
        # closed form from doc_id (id param mod 10 -> collisions)
        "dedup_url_recrawl": """
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
            FROM best WHERE rn = 1 ORDER BY canonical_url""",
        "url_canonical": """
            WITH c AS (
              SELECT 'https://host' || (doc_id % 4) || '.example.org/p'
                     || (doc_id % 7) || '?id=' || (doc_id % 50)
                       AS canonical_url,
                     'host' || (doc_id % 4) || '.example.org' AS host
              FROM documents)
            SELECT canonical_url, host, COUNT(*) AS n_urls FROM c
            GROUP BY canonical_url, host ORDER BY canonical_url""",
        "kg_rdfs_entailed": "WITH " + _F_CTE + """,
            inf AS (
              -- rdfs7: mentions ⊑ references (1/doc)
              SELECT doc_uri AS subj,
                     'http://purl.org/dc/terms/references' AS pred
              FROM f
              -- rdfs7 transitive: mentions ⊑ relation (1/doc)
              UNION ALL SELECT doc_uri,
                     'http://purl.org/dc/terms/relation' FROM f
              -- rdfs7: references ⊑ relation (section + subsection
              -- mention triples)
              UNION ALL SELECT doc_uri || '#S' || s,
                     'http://purl.org/dc/terms/relation' FROM secs
              UNION ALL SELECT doc_uri || '#S' || s || '.1',
                     'http://purl.org/dc/terms/relation' FROM subs
              -- rdfs9: bibo:Document ⊑ foaf:Document and ⊑ owl:Thing
              UNION ALL SELECT doc_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM f
              UNION ALL SELECT doc_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM f
              -- rdfs9: bibo:DocumentPart ⊑ owl:Thing
              UNION ALL SELECT doc_uri || '#S' || s,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                FROM secs
              UNION ALL SELECT doc_uri || '#S' || s || '.1',
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                FROM subs
              -- rdfs3: range(mentions) = ex:Entity, one row per doc
              -- (inference is per named graph / context)
              UNION ALL SELECT entity_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                FROM f)
            SELECT pred, COUNT(*) AS n_triples,
                   COUNT(DISTINCT subj) AS n_subjects
            FROM inf GROUP BY pred ORDER BY pred""",
        "kg_sparql_update":
            "WITH " + _F_CTE + ", " + _DOC_TRIPLES + """,
            g AS (
              SELECT CASE WHEN pred = 'http://purl.org/dc/terms/subject'
                          THEN 'https://example.org/def/theme'
                          ELSE pred END AS pred
              FROM doc_triples
              UNION ALL
              SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
            SELECT pred, COUNT(*) AS n FROM g
            GROUP BY pred ORDER BY pred""",
        "kg_sparql_describe":
            "WITH " + _F_CTE + ", " + _DOC_TRIPLES + """
            SELECT pred, COUNT(*) AS n FROM doc_triples
            WHERE CAST(regexp_extract(subj, '(\\d+)$', 1) AS BIGINT)
                  % 7 = 0
            GROUP BY pred ORDER BY pred""",
        "kg_sparql_subquery": "WITH " + _F_CTE + """
            SELECT 'Document ' || doc_id AS title,
                   CAST(7 + CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0
                            END AS BIGINT) AS n
            FROM f ORDER BY title""",
        # per named graph (= source url, one graph per doc): parts
        # reaching the typed doc over isPartOf+ are its sections
        # (1 hop) and subsections (2 hops); the graph's raw isPartOf
        # edge count is the same set's cardinality (one edge per
        # section and per subsection)
        "kg_sparql_graph_var": "WITH " + _F_CTE + """,
            parts AS (
              SELECT url AS g FROM secs
              UNION ALL
              SELECT url AS g FROM subs)
            SELECT g, COUNT(*) AS n_parts, COUNT(*) AS n_edges
            FROM parts GROUP BY g ORDER BY g""",
        # the sources CASE mirrors SPARQL STRBEFORE exactly (missing
        # needle -> ''), not split_part (missing needle -> whole
        # string) — oracle must not lean on the corpus always
        # containing '-'.
        # STRENDS(ymd, SUBSTR(ymd, 5)) is a tautology by construction
        # (a string always ends with its own tail) but exercises the
        # column-argument endswith + 2-arg SUBSTR kernels; the length
        # filter keeps docs with ids >= 10 (identifier 'srcN-id')
        "kg_sparql_builtins": "WITH " + _F_CTE + """
            SELECT subject,
                   CASE WHEN sameas_uri IS NOT NULL
                        THEN 'linked' ELSE 'orphan' END AS linkcls,
                   COUNT(*) AS n_docs,
                   string_agg(DISTINCT upper(CASE
                                WHEN strpos(identifier, '-') > 0
                                THEN substring(identifier, 1,
                                     strpos(identifier, '-') - 1)
                                ELSE '' END),
                              '|' ORDER BY
                              upper(CASE
                                WHEN strpos(identifier, '-') > 0
                                THEN substring(identifier, 1,
                                     strpos(identifier, '-') - 1)
                                ELSE '' END))
                     AS sources,
                   max(regexp_replace(issued, '-', '', 'g')) AS max_ymd,
                   min((length(identifier) + 1) / 2) AS min_halflen
            FROM f
            WHERE length(identifier) * 2 - 2 >= 12
            GROUP BY 1, 2 ORDER BY 1, 2""",
        # only sections carry bibo:chapter (subsections have titles
        # but no chapter), so the BGP restricts to sections; their
        # titles are 'Section <s>' (length 9 for one-digit s)
        "kg_sparql_agg_expr": "WITH " + _F_CTE + """
            SELECT doc_uri AS doc,
                   SUM(s * 2.0 + 1) AS w,
                   AVG(CAST(length('Section ' || s) AS DOUBLE))
                     AS alen
            FROM secs GROUP BY doc_uri ORDER BY doc""",
        "kg_sparql_hashes": "WITH " + _F_CTE + """
            SELECT substring(sha256(identifier), 1, 1) AS nib,
                   COUNT(*) AS n,
                   min('urn:skolem:' || md5(identifier))
                     AS first_skolem
            FROM f GROUP BY 1 ORDER BY 1""",
        # Adamic-Adar over the undirected citation graph: hub cut
        # d in [2, 64], wedge self-join on z, NOT EXISTS for
        # non-adjacency, global top-200 by (score, pair)
        "kg_link_prediction": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """,
            und AS (
              SELECT DISTINCT least(context, obj) AS u,
                              greatest(context, obj) AS v
              FROM mention_triples WHERE context <> obj),
            deg AS (
              SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM und
                UNION ALL SELECT v FROM und) GROUP BY n),
            spokes AS (
              SELECT u AS z, v AS x FROM und
              UNION ALL SELECT v, u FROM und),
            zw AS (SELECT n AS z,
                          1.0 / ln(CAST(d AS DOUBLE)) AS w
                   FROM deg WHERE d BETWEEN 2 AND 64),
            wedge AS (SELECT s.z, s.x, zw.w
                      FROM spokes s JOIN zw USING (z)),
            ps AS (
              SELECT a.x AS x, b.x AS y,
                     COUNT(*) AS n_common,
                     round(SUM(a.w), 6) AS aa_score
              FROM wedge a JOIN wedge b
                ON a.z = b.z AND a.x < b.x
              GROUP BY 1, 2)
            SELECT x AS node_a, y AS node_b, n_common, aa_score
            FROM ps
            WHERE NOT EXISTS (SELECT 1 FROM und p
                              WHERE p.u = ps.x AND p.v = ps.y)
            ORDER BY aa_score DESC, node_a, node_b LIMIT 200""",
        # Co-citation: wedge on the citing doc (out-degree hub cut
        # 2..64), Salton cosine over TRUE in-degrees, min_common 1
        "kg_cocitation": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """,
            e AS (SELECT DISTINCT context AS s, obj AS t
                  FROM mention_triples WHERE context <> obj),
            odeg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s),
            ok AS (SELECT s FROM odeg WHERE d BETWEEN 2 AND 64),
            w AS (SELECT e.s, e.t FROM e JOIN ok USING (s)),
            ps AS (SELECT a.t AS a, b.t AS b, COUNT(*) AS n_common
                   FROM w a JOIN w b ON a.s = b.s AND a.t < b.t
                   GROUP BY 1, 2),
            indeg AS (SELECT t, COUNT(*) AS cited FROM e GROUP BY t)
            SELECT a AS node_a, b AS node_b, n_common,
                   round(n_common / sqrt(ia.cited * 1.0 * ib.cited), 6)
                     AS salton
            FROM ps JOIN indeg ia ON ps.a = ia.t
                    JOIN indeg ib ON ps.b = ib.t
            ORDER BY salton DESC, node_a, node_b LIMIT 200""",
        # Bibliographic coupling: wedge on the cited target
        # (in-degree hub cut), Salton over TRUE out-degrees
        "kg_biblio_coupling": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """,
            e AS (SELECT DISTINCT context AS s, obj AS t
                  FROM mention_triples WHERE context <> obj),
            ideg AS (SELECT t, COUNT(*) AS d FROM e GROUP BY t),
            ok AS (SELECT t FROM ideg WHERE d BETWEEN 2 AND 64),
            w AS (SELECT e.s, e.t FROM e JOIN ok USING (t)),
            ps AS (SELECT a.s AS a, b.s AS b, COUNT(*) AS n_common
                   FROM w a JOIN w b ON a.t = b.t AND a.s < b.s
                   GROUP BY 1, 2),
            odeg AS (SELECT s, COUNT(*) AS refs FROM e GROUP BY s)
            SELECT a AS node_a, b AS node_b, n_common,
                   round(n_common / sqrt(oa.refs * 1.0 * ob.refs), 6)
                     AS salton
            FROM ps JOIN odeg oa ON ps.a = oa.s
                    JOIN odeg ob ON ps.b = ob.s
            ORDER BY salton DESC, node_a, node_b LIMIT 200""",
        # Jaccard over bounded common neighbours, true-degree union
        "kg_jaccard_links": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """,
            und AS (
              SELECT DISTINCT least(context, obj) AS u,
                              greatest(context, obj) AS v
              FROM mention_triples WHERE context <> obj),
            deg AS (
              SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM und
                UNION ALL SELECT v FROM und) GROUP BY n),
            spokes AS (
              SELECT u AS z, v AS x FROM und
              UNION ALL SELECT v, u FROM und),
            zok AS (SELECT n AS z FROM deg WHERE d BETWEEN 2 AND 64),
            wedge AS (SELECT s.z, s.x
                      FROM spokes s JOIN zok USING (z)),
            ps AS (
              SELECT a.x AS x, b.x AS y, COUNT(*) AS n_common
              FROM wedge a JOIN wedge b
                ON a.z = b.z AND a.x < b.x
              GROUP BY 1, 2),
            sc AS (
              SELECT ps.x, ps.y, ps.n_common,
                     round(ps.n_common * 1.0
                           / (du.d + dv.d - ps.n_common), 6)
                       AS jaccard
              FROM ps JOIN deg du ON du.n = ps.x
                      JOIN deg dv ON dv.n = ps.y)
            SELECT x AS node_a, y AS node_b, n_common, jaccard
            FROM sc
            WHERE NOT EXISTS (SELECT 1 FROM und p
                              WHERE p.u = sc.x AND p.v = sc.y)
            ORDER BY jaccard DESC, node_a, node_b LIMIT 200""",
        # Newman assortativity from exact integer sums
        "kg_assortativity": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """,
            und AS (
              SELECT DISTINCT least(context, obj) AS u,
                              greatest(context, obj) AS v
              FROM mention_triples WHERE context <> obj),
            deg AS (
              SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM und
                UNION ALL SELECT v FROM und) GROUP BY n),
            be AS (SELECT u, v FROM und
                   UNION ALL SELECT v, u FROM und),
            jj AS (SELECT du.d AS x, dv.d AS y
                   FROM be JOIN deg du ON du.n = be.u
                           JOIN deg dv ON dv.n = be.v),
            s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                         SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                         SUM(y * y) AS syy
                  FROM jj)
            SELECT CAST(n AS BIGINT) AS n_edge_ends,
                   round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                * CAST(n * syy - sy * sy AS DOUBLE)),
                         6) AS assortativity
            FROM s""",
        # degree + corner-counted triangles + the 2t/(d(d-1)) formula
        "kg_dup_clustering": "WITH " + _MINHASH_CTE + """,
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
            deg AS (
              SELECT doc_id, COUNT(*) AS degree FROM (
                SELECT doc_a AS doc_id FROM pairs
                UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
            tri AS (
              SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
              FROM pairs e1
              JOIN pairs e2 ON e2.doc_a = e1.doc_b
              JOIN pairs e3 ON e3.doc_a = e1.doc_a
                           AND e3.doc_b = e2.doc_b),
            tc AS (
              SELECT doc_id, COUNT(*) AS n_triangles FROM (
                SELECT x AS doc_id FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri) GROUP BY doc_id)
            SELECT d.doc_id, d.degree,
                   coalesce(tc.n_triangles, 0) AS n_triangles,
                   round(CASE WHEN d.degree >= 2
                         THEN 2.0 * coalesce(tc.n_triangles, 0)
                              / (d.degree * (d.degree - 1.0))
                         ELSE 0.0 END, 6) AS clustering
            FROM deg d LEFT JOIN tc USING (doc_id)
            ORDER BY d.doc_id""",
        "dedup_embedding_clusters":
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
            FROM reach GROUP BY v ORDER BY vec_id""",
        # naive a<b<c 3-way join is the oracle; the Spark side uses
        # degree orientation — same triangles, different join order
        # 2-core by peeling, unrolled 4 rounds (provably convergent
        # for the planted per-block triangle + 3-chain + lone edge)
        "kg_kcore": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            e0 AS (
              SELECT b AS u, b + 1 AS v FROM blk
              UNION ALL SELECT b + 1, b + 2 FROM blk
              UNION ALL SELECT b, b + 2 FROM blk
              UNION ALL SELECT b + 2, b + 3 FROM blk
              UNION ALL SELECT b + 3, b + 4 FROM blk
              UNION ALL SELECT b + 4, b + 5 FROM blk
              UNION ALL SELECT b + 6, b + 7 FROM blk),
            nodes AS (SELECT DISTINCT n FROM
              (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)),
            d0 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
              GROUP BY n),
            e1 AS (SELECT u, v FROM e0
                   WHERE u NOT IN (SELECT n FROM d0 WHERE d < 2)
                     AND v NOT IN (SELECT n FROM d0 WHERE d < 2)),
            d1 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1)
              GROUP BY n),
            e2 AS (SELECT u, v FROM e1
                   WHERE u NOT IN (SELECT n FROM d1 WHERE d < 2)
                     AND v NOT IN (SELECT n FROM d1 WHERE d < 2)),
            d2 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)
              GROUP BY n),
            e3 AS (SELECT u, v FROM e2
                   WHERE u NOT IN (SELECT n FROM d2 WHERE d < 2)
                     AND v NOT IN (SELECT n FROM d2 WHERE d < 2)),
            d3 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
              GROUP BY n),
            e4 AS (SELECT u, v FROM e3
                   WHERE u NOT IN (SELECT n FROM d3 WHERE d < 2)
                     AND v NOT IN (SELECT n FROM d3 WHERE d < 2)),
            dfin AS (SELECT n, COUNT(*) AS core_degree FROM
              (SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4)
              GROUP BY n)
            SELECT nodes.n AS node, dfin.n IS NOT NULL AS in_core,
                   dfin.core_degree
            FROM nodes LEFT JOIN dfin ON nodes.n = dfin.n
            ORDER BY node""",
        "kg_dup_triangles": "WITH " + _MINHASH_CTE + """,
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
            tri AS (
              SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
              FROM pairs e1
              JOIN pairs e2 ON e2.doc_a = e1.doc_b
              JOIN pairs e3 ON e3.doc_a = e1.doc_a
                           AND e3.doc_b = e2.doc_b),
            corners AS (
              SELECT x AS doc_id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
            SELECT doc_id, COUNT(*) AS n_triangles
            FROM corners GROUP BY doc_id ORDER BY doc_id""",
        "kg_degree_distribution":
            "WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """,
            deg AS (
              SELECT obj, COUNT(DISTINCT context) AS d
              FROM mention_triples GROUP BY obj)
            SELECT d AS in_degree, COUNT(*) AS n_targets
            FROM deg GROUP BY d ORDER BY in_degree""",
        "kg_ranking_ap": """
            WITH d AS (
              SELECT doc_id, 'pub' || (doc_id % 7) AS query,
                     CAST(doc_id AS VARCHAR) AS item
              FROM documents),
            r AS (
              SELECT query, item,
                     ROW_NUMBER() OVER (PARTITION BY query
                                        ORDER BY doc_id) AS rank,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
              FROM d),
            c AS (
              SELECT query, rank, rel,
                     SUM(rel) OVER (PARTITION BY query ORDER BY rank)
                       AS cum
              FROM r)
            SELECT query,
                   round(AVG(CAST(cum AS DOUBLE) / rank), 6) AS ap
            FROM c WHERE rel = 1 GROUP BY query ORDER BY query""",
        # binary nDCG with ln2/ln(rank+1) discount; ideal truncated
        # to min(n_gold, n_ranked)
        "kg_ranking_ndcg": """
            WITH d AS (
              SELECT doc_id, 'pub' || (doc_id % 7) AS query,
                     CAST(doc_id AS VARCHAR) AS item
              FROM documents),
            r AS (
              SELECT query, item,
                     ROW_NUMBER() OVER (PARTITION BY query
                                        ORDER BY doc_id) AS rank,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
              FROM d),
            dcg AS (
              SELECT query, SUM(ln(2.0) / ln(rank + 1.0)) AS dcg
              FROM r WHERE rel = 1 GROUP BY query),
            sizes AS (
              SELECT query, COUNT(*) AS n_ranked,
                     CAST(SUM(rel) AS BIGINT) AS n_gold
              FROM r GROUP BY query HAVING SUM(rel) > 0),
            ideal AS (
              SELECT query, n_gold,
                     SUM(ln(2.0) / ln(i + 1.0)) AS idcg
              FROM (SELECT query, n_gold,
                           unnest(generate_series(
                             1, least(CAST(n_gold AS BIGINT),
                                      CAST(n_ranked AS BIGINT)))) AS i
                    FROM sizes)
              GROUP BY query, n_gold)
            SELECT i.query, i.n_gold,
                   round(COALESCE(d.dcg, 0.0) / i.idcg, 6) AS ndcg
            FROM ideal i LEFT JOIN dcg d ON i.query = d.query
            ORDER BY i.query""",
        # alpha=0.5 temperature mixture: q = sqrt(n)/sum(sqrt(n))
        "train_source_temperature": """
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
            FROM cnt CROSS JOIN tot ORDER BY source""",
        # mirrors search.ranked_set_baseline: tf = split-count, OR
        # candidates (score > 0), rank by (score desc, item)
        "kg_ranking_baseline": """
            WITH needs(query, term) AS (VALUES
              ('need0', 'spark'), ('need0', 'merge'),
              ('need1', 'window'), ('need1', 'sort'),
              ('need2', 'hash'), ('need2', 'batch'),
              ('need3', 'scan'), ('need3', 'value')),
            tf AS (
              SELECT n.query, CAST(d.doc_id AS VARCHAR) AS item,
                     CAST(len(string_split(lower(d.text), n.term)) - 1
                       AS BIGINT) AS tf
              FROM documents d, needs n),
            s AS (
              SELECT query, item, CAST(SUM(tf) AS BIGINT) AS score
              FROM tf GROUP BY query, item HAVING SUM(tf) > 0),
            r AS (
              SELECT query, item, score,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query
                       ORDER BY score DESC, item) AS INT) AS rank
              FROM s)
            SELECT query, item, rank, score FROM r
            WHERE rank <= 20""",
        # knowledge fusion: trust-weighted vote, ties -> object asc
        "kg_fact_fusion": _FUSION_CTE + """
            SELECT subject, predicate, object, support, n_sources
            FROM ranked WHERE rk = 1 ORDER BY subject""",
        "kg_source_accuracy": _FUSION_CTE + """,
            truth AS (
              SELECT subject, predicate, object AS true_object
              FROM ranked WHERE rk = 1)
            SELECT c.source,
                   CAST(SUM(CASE WHEN c.object = t.true_object
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
                   CAST(COUNT(*) AS BIGINT) AS n_claims,
                   (CAST(SUM(CASE WHEN c.object = t.true_object
                             THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
                     // CAST(COUNT(*) AS BIGINT) AS accuracy_ppm
            FROM dclaims c
            LEFT JOIN truth t
              ON c.subject = t.subject AND c.predicate = t.predicate
            GROUP BY c.source ORDER BY c.source""",
        # pointer-doubled redirect chains: closed-form final hop
        "kg_redirect_resolution": """
            WITH r AS (
              SELECT doc_id, doc_id + 4 - doc_id % 10 AS fin
              FROM documents WHERE doc_id % 10 BETWEEN 1 AND 3)
            SELECT (CASE WHEN doc_id % 10 < 3
                         THEN 'https://hot.example.org/'
                         ELSE 'https://example.org/' END)
                     || 'docs/src' || (doc_id % 20) || '/' || doc_id
                     AS src_url,
                   'https://example.org/docs/src' || (fin % 20)
                     || '/' || fin AS final_url,
                   CAST(4 - doc_id % 10 AS BIGINT) AS hops,
                   TRUE AS resolved
            FROM r ORDER BY src_url""",
        "crawl_robots_rules": "WITH " + _F_CTE + """,
            rules(host, path_prefix, allow) AS (VALUES
              ('example.org', '/docs/src1', FALSE),
              ('example.org', '/docs/src15', TRUE),
              ('example.org', '/docs/src4/', FALSE),
              ('example.org', '/docs/src7/', FALSE),
              ('example.org', '/docs/src7/', TRUE),
              ('hot.example.org', '/docs/', FALSE),
              ('hot.example.org', '/docs/src12', TRUE)),
            u AS (
              SELECT url,
                     regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                     regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1)
                       AS path
              FROM f),
            m AS (
              SELECT u.url, r.allow, r.path_prefix,
                     ROW_NUMBER() OVER (PARTITION BY u.url
                       ORDER BY length(r.path_prefix) DESC,
                                CAST(r.allow AS INT) DESC) AS rk
              FROM u JOIN rules r
                ON u.host = r.host
               AND starts_with(u.path, r.path_prefix))
            SELECT u.url,
                   COALESCE(m.allow, TRUE) AS allowed,
                   COALESCE(m.path_prefix, '') AS rule_prefix
            FROM u LEFT JOIN (SELECT * FROM m WHERE rk = 1) m
              USING (url)
            ORDER BY u.url""",
        # planted nav anchors: 'next' -> d+1, 'related' -> d+2
        "kg_anchor_text": """
            WITH links AS (
              SELECT doc_id + 1 AS target, 'next' AS anchor
              FROM documents
              UNION ALL
              SELECT doc_id + 2, 'related' FROM documents),
            counts AS (
              SELECT target, anchor, COUNT(*) AS n
              FROM links GROUP BY target, anchor),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY target
                       ORDER BY n DESC, anchor ASC) AS rk
              FROM counts)
            SELECT CAST(target AS BIGINT) AS target,
                   CAST(SUM(n) AS BIGINT) AS n_inlinks,
                   CAST(COUNT(*) AS BIGINT) AS n_anchor_texts,
                   MAX(CASE WHEN rk = 1 THEN anchor END) AS top_anchor
            FROM ranked GROUP BY target ORDER BY target""",
        # gaps-and-islands interval coalescing, closed-closed ints
        "kg_valid_intervals": """
            WITH iv AS (
              SELECT CAST(doc_id % 50 AS BIGINT) AS entity,
                     CAST((doc_id * 37) % 1461 AS BIGINT) AS valid_from,
                     CAST((doc_id * 37) % 1461 + 30
                          + (doc_id % 5) * 20 AS BIGINT) AS valid_to
              FROM documents),
            flg AS (
              SELECT *, CASE WHEN
                  MAX(valid_to) OVER (PARTITION BY entity
                    ORDER BY valid_from, valid_to
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL OR valid_from >
                  MAX(valid_to) OVER (PARTITION BY entity
                    ORDER BY valid_from, valid_to
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS ni
              FROM iv),
            isl AS (
              SELECT *, SUM(ni) OVER (PARTITION BY entity
                       ORDER BY valid_from, valid_to
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
              FROM flg)
            SELECT entity, MIN(valid_from) AS valid_from,
                   MAX(valid_to) AS valid_to,
                   CAST(COUNT(*) AS BIGINT) AS n_merged
            FROM isl GROUP BY entity, island
            ORDER BY entity, valid_from""",
        # BFS closed-form: dist(n) = min over seeds of ceil((n-s)/2)
        "kg_bfs_distances": """
            WITH seeds AS (
              SELECT doc_id AS s FROM documents WHERE doc_id % 100 = 0),
            nodes AS (
              SELECT DISTINCT n FROM (
                SELECT doc_id AS n FROM documents
                UNION SELECT doc_id + 1 FROM documents
                UNION SELECT doc_id + 2 FROM documents)),
            d AS (
              SELECT n, MIN((n - s + 1) // 2) AS dist
              FROM nodes JOIN seeds ON n - s BETWEEN 0 AND 6
              GROUP BY n)
            SELECT CAST(n AS BIGINT) AS node, CAST(dist AS INT) AS dist
            FROM d ORDER BY node""",
        # multi-pass sorted-neighborhood: window 4, 4-char blocks
        "dedup_sorted_neighborhood": """
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
            FROM p GROUP BY id_a, id_b ORDER BY id_a, id_b""",
        # portable-LCG filtered negative sampling (glibc constants)
        "train_kg_negatives": """
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
            ORDER BY c.example_id, c.sample_idx""",
        # PMI collocations: integer-exact scaled ratio, N-free
        "text_pmi_bigrams": """
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
            ORDER BY pmi_scaled DESC, w1, w2 LIMIT 100""",
        # the synthesized sitemap round-trips through the real XML
        # parser on the Spark side; closed-form here
        "crawl_sitemap": "WITH " + _F_CTE + """
            SELECT url AS loc, issued AS lastmod,
                   CAST(doc_id % 10 AS INT) AS priority_tenths
            FROM f ORDER BY loc""",
        "crawl_frontier": "WITH " + _F_CTE + """,
            u AS (
              SELECT url,
                     CASE WHEN doc_id % 10 < 3 THEN 'hot.example.org'
                          ELSE 'example.org' END AS host
              FROM f),
            hosts AS (
              SELECT host, CAST(ROW_NUMBER() OVER (ORDER BY host)
                                AS BIGINT) - 1 AS host_idx
              FROM (SELECT DISTINCT host FROM u)),
            nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts
                   FROM hosts),
            r AS (
              SELECT url, host,
                     CAST(ROW_NUMBER() OVER (PARTITION BY host
                          ORDER BY url) AS BIGINT) AS rank_in_host
              FROM u)
            SELECT r.url, r.host, r.rank_in_host,
                   (r.rank_in_host - 1) * nh.n_hosts + h.host_idx
                     AS slot
            FROM r JOIN hosts h ON r.host = h.host CROSS JOIN nh
            ORDER BY slot""",
        # planted constant offsets (see kg_legal_mentions): sfs 3-35,
        # caselaw 40-54, forarbeten 60-77; window = +-20 chars
        "kg_mention_contexts": """
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
            ORDER BY url, "start" """,
        "kg_reified_statements": "WITH " + _F_CTE + ", "
            + _MENTION_TRIPLES + """,
            stmts AS (
              SELECT 'urn:stmt:'
                       || md5(subj || '|' || pred || '|' || obj)
                       AS stmt_uri,
                     subj, pred AS p0, obj, context
              FROM mention_triples),
            reified AS (
              SELECT stmt_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                  AS pred,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement'
                  AS obj FROM stmts
              UNION ALL SELECT stmt_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#subject',
                subj FROM stmts
              UNION ALL SELECT stmt_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#predicate',
                p0 FROM stmts
              UNION ALL SELECT stmt_uri,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#object',
                obj FROM stmts
              UNION ALL SELECT stmt_uri,
                'http://purl.org/dc/terms/source', context FROM stmts)
            SELECT stmt_uri, pred, obj FROM reified
            ORDER BY stmt_uri, pred, obj""",
        "kg_pred_cooccurrence": _ALL_TRIPLES_WITH + """,
            sp AS (SELECT DISTINCT subj, pred FROM all_triples)
            SELECT a.pred AS pred_a, b.pred AS pred_b,
                   CAST(COUNT(*) AS BIGINT) AS n_subjects
            FROM sp a JOIN sp b
              ON a.subj = b.subj AND a.pred < b.pred
            GROUP BY a.pred, b.pred ORDER BY pred_a, pred_b""",
        # portable md5 bucket (training.portable_bucket contract)
        "train_split_assignment": """
            WITH b AS (
              SELECT doc_id, source,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1, 8)) AS BIGINT) % 10000 AS bucket
              FROM documents)
            SELECT doc_id, source, bucket,
                   CASE WHEN bucket < 9600 THEN 'train'
                        WHEN bucket < 9800 THEN 'val'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id""",
        # two-pass capped weighted allocation, integer div both passes
        "train_token_budget": r"""
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
            FROM p1 CROSS JOIN t1 ORDER BY source""",
        # keep-one per MinHash dup cluster: quality = n_chars desc,
        # ties -> lowest doc_id
        "dedup_cluster_keep": "WITH RECURSIVE " + _MINHASH_CTE + """,
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
            FROM m GROUP BY cluster_id ORDER BY cluster_id""",
        # planted infobox cells closed-form (Spark walks the real DOM)
        "kg_html_tables": _INFOBOX_CTE + """
            SELECT url, CAST(0 AS INT) AS table_idx, row_idx, col_idx,
                   cell
            FROM cells ORDER BY url, table_idx, row_idx, col_idx""",
        "kg_infobox_triples": _INFOBOX_CTE + """
            SELECT k.url AS subj, 'urn:prop:' || lower(k.cell) AS pred,
                   v.cell AS obj
            FROM cells k JOIN cells v
              ON k.url = v.url AND k.row_idx = v.row_idx
             AND k.col_idx = 0 AND v.col_idx = 1
            ORDER BY subj, pred""",
        # context-overlap argmax; mirrored list_intersect scoring
        "kg_entity_disambiguation": """
            WITH m AS (
              SELECT doc_id AS mention_id,
                     ['p' || (doc_id % 5), 'q' || (doc_id % 7),
                      'noise'] AS context_tokens
              FROM documents),
            cand AS (
              SELECT doc_id AS mention_id, doc_id % 50 AS entity_id
              FROM documents
              UNION ALL
              SELECT doc_id, (doc_id + 1) % 50 FROM documents),
            prof AS (
              SELECT i AS entity_id,
                     ['p' || (i % 5), 'q' || (i % 3)] AS profile_tokens
              FROM (SELECT unnest(generate_series(0, 49)) AS i)),
            scored AS (
              SELECT c.mention_id, c.entity_id,
                     CAST(len(list_intersect(
                          list_distinct(m.context_tokens),
                          list_distinct(p.profile_tokens)))
                       AS BIGINT) AS overlap
              FROM cand c
              JOIN m USING (mention_id) JOIN prof p USING (entity_id)),
            rk AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY mention_id
                       ORDER BY overlap DESC, entity_id ASC) AS r
              FROM scored)
            SELECT mention_id,
                   MAX(CASE WHEN r = 1 THEN entity_id END) AS entity_id,
                   MAX(CASE WHEN r = 1 THEN overlap END) AS overlap,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates
            FROM rk GROUP BY mention_id ORDER BY mention_id""",
        # CMS registers: portable md5 row hashes, depth 4 x width 256
        "stats_cms_tokens": r"""
            WITH toks AS (
              SELECT string_split_regex(lower(trim(text)),
                     '[ \t\n\r\f\x0B]+') AS t
              FROM documents),
            items AS (SELECT unnest(t) AS token FROM toks),
            rows_ AS (
              SELECT d AS sketch_row,
                     CAST(('0x' || substr(md5('cms' || d || ':'
                          || token), 1, 8)) AS BIGINT) % 256 AS col
              FROM items,
                   (SELECT unnest(generate_series(0, 3)) AS d))
            SELECT CAST(sketch_row AS INT) AS sketch_row, col,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM rows_ GROUP BY sketch_row, col
            ORDER BY sketch_row, col""",
        # HLL registers: h%64 register, rank = 1 + tz(h div 64) via
        # bit_count(xor(x, x-1)); all-zero rest pinned to 25
        # Log-linear histogram quantiles: bit-length via bin(),
        # top-4-bit buckets, rank = ceil(q * N) with q pinned DOUBLE
        # (a DECIMAL literal would make 0.99*500 exact where IEEE
        # gives 495.000...06 -> different ceil)
        "stats_hist_quantiles": r"""
            WITH vals AS (
              SELECT CAST(n_chars AS BIGINT) AS v FROM documents
              WHERE n_chars >= 0),
            bb AS (SELECT v, CASE WHEN v <= 0 THEN 0
                                  ELSE length(bin(v)) END AS bl
                   FROM vals),
            sb AS (SELECT bl, greatest(bl - 4, 0) AS s, v FROM bb),
            h AS (SELECT bl, (v >> s) << s AS lo,
                         ((v >> s) << s) + (1 << s) - 1 AS hi,
                         COUNT(*) AS n
                  FROM sb GROUP BY 1, 2, 3),
            cum AS (SELECT lo, SUM(n) OVER (ORDER BY lo) AS c FROM h),
            tot AS (SELECT SUM(n) AS N FROM h),
            qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
                     AS q),
            tgt AS (SELECT q, CAST(ceil(q * N) AS BIGINT)
                      AS target_rank FROM qs, tot)
            SELECT q, target_rank, MIN(lo) AS est
            FROM tgt JOIN cum ON cum.c >= tgt.target_rank
            GROUP BY 1, 2 ORDER BY q""",
        "stats_hll_registers": r"""
            WITH toks AS (
              SELECT source, string_split_regex(lower(trim(text)),
                     '[ \t\n\r\f\x0B]+') AS t
              FROM documents),
            items AS (SELECT source, unnest(t) AS token FROM toks),
            h AS (
              SELECT source,
                     CAST(('0x' || substr(md5('hll:' || token), 1, 8))
                          AS BIGINT) AS hv
              FROM items),
            rr AS (
              SELECT source, hv % 64 AS register,
                     (hv - hv % 64) // 64 AS rest
              FROM h)
            SELECT source, register,
                   CAST(MAX(CASE WHEN rest = 0 THEN 25
                            ELSE bit_count(xor(rest, rest - 1)) END)
                     AS INT) AS max_rank
            FROM rr GROUP BY source, register
            ORDER BY source, register""",
        # KMV: distinct md5-prefix hashes, per-source bottom-32, then
        # bottom-32 of the union with per-side membership flags
        "stats_kmv_jaccard": r"""
            WITH toks AS (
              SELECT source,
                     unnest(string_split_regex(lower(trim(text)),
                       '[ \t\n\r\f\x0B]+')) AS token
              FROM documents WHERE source IN ('src0', 'src1')),
            h AS (
              SELECT DISTINCT source,
                     CAST(('0x' || substr(md5('kmv:' || token), 1, 8))
                          AS BIGINT) AS hv
              FROM toks WHERE length(token) > 0),
            sk AS (
              SELECT source, hv,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY hv) AS rnk
              FROM h QUALIFY rnk <= 32),
            m AS (
              SELECT hv,
                     MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0
                         END) AS in_a,
                     MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0
                         END) AS in_b
              FROM sk GROUP BY hv
              QUALIFY row_number() OVER (ORDER BY hv) <= 32)
            SELECT CAST(COUNT(*) AS INT) AS k_used,
                   MAX(hv) AS kth_min,
                   CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
                   CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_only_a,
                   CAST(SUM((1 - in_a) * in_b) AS BIGINT) AS n_only_b,
                   1000 * CAST(SUM(in_a * in_b) AS BIGINT)
                     // COUNT(*) AS est_jaccard_permille
            FROM m""",
        # Bloom probe: bits from even docs, probes = odd docs;
        # UNION ALL keeps per-hash multiplicity (mirrors the operator)
        "dedup_bloom_probe": "WITH " + _F_CTE + """,
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
            ORDER BY p.url""",
        # closed-form diff: %4==3 added, %4==1 removed, %8==0 changed
        "crawl_sitemap_diff": "WITH " + _F_CTE + """,
            s AS (
              SELECT url AS loc, doc_id, issued,
                     strftime(DATE '2020-01-02'
                       + INTERVAL ((doc_id * 37) % 1461) DAY,
                       '%Y-%m-%d') AS shifted
              FROM f)
            SELECT loc,
                   CASE WHEN doc_id % 4 = 3 THEN 'added'
                        WHEN doc_id % 4 = 1 THEN 'removed'
                        WHEN doc_id % 8 = 0 THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   CASE WHEN doc_id % 4 = 3 THEN NULL
                        ELSE issued END AS old_lastmod,
                   CASE WHEN doc_id % 4 = 1 THEN NULL
                        WHEN doc_id % 8 = 0 THEN shifted
                        ELSE issued END AS new_lastmod
            FROM s ORDER BY loc""",
        "kg_neighbor_agg": """
            WITH e AS (
              SELECT doc_id AS u, doc_id + 1 AS v FROM documents
              UNION ALL
              SELECT doc_id, doc_id + 2 FROM documents),
            ft AS (
              SELECT doc_id AS v, CAST(n_chars AS BIGINT) AS x
              FROM documents),
            h1 AS (
              SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS h1_n,
                     CAST(SUM(x) AS BIGINT) AS h1_sum
              FROM e JOIN ft USING (v) GROUP BY u),
            e2 AS (
              SELECT a.u, b.v FROM e a
              JOIN (SELECT u AS m, v FROM e) b ON a.v = b.m),
            h2 AS (
              SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS h2_n,
                     CAST(SUM(x) AS BIGINT) AS h2_sum
              FROM e2 JOIN ft USING (v) GROUP BY u)
            SELECT h1.node, h1.h1_n, h1.h1_sum,
                   COALESCE(h2.h2_n, 0) AS h2_n,
                   COALESCE(h2.h2_sum, 0) AS h2_sum
            FROM h1 LEFT JOIN h2 ON h1.node = h2.node
            ORDER BY h1.node""",
        # synchronous LPA unrolled 4 rounds, min-of-argmax tie-break —
        # mirrors label_propagation() round by round
        "kg_label_prop": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            e0 AS (
              SELECT b AS u, b + 1 AS v FROM blk
              UNION ALL SELECT b + 1, b + 2 FROM blk
              UNION ALL SELECT b, b + 2 FROM blk
              UNION ALL SELECT b + 2, b + 5 FROM blk
              UNION ALL SELECT b + 5, b + 6 FROM blk
              UNION ALL SELECT b + 6, b + 7 FROM blk
              UNION ALL SELECT b + 5, b + 7 FROM blk),
            und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
            l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
            c1 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l0 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l1 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c1) t WHERE c = mx GROUP BY node),
            c2 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l1 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l2 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c2) t WHERE c = mx GROUP BY node),
            c3 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l2 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l3 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c3) t WHERE c = mx GROUP BY node),
            c4 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l3 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l4 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c4) t WHERE c = mx GROUP BY node)
            SELECT node, lbl AS label FROM l4 ORDER BY node""",
        # closed-form mirror of the planted JSON-LD blocks
        "kg_jsonld_triples": """
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
            ORDER BY url, pred""",
        # closed-form mirror of the planted Hearst sentences
        "kg_hearst_pairs": """
            WITH d AS (
              SELECT doc_id,
                     'https://example.org/hearst/' || doc_id AS url
              FROM documents),
            i AS (SELECT url, doc_id, unnest([0, 1, 2]) AS k FROM d)
            SELECT url, 'topics' AS hypernym,
                   'topic' || ((doc_id + k) % 5) AS hyponym
            FROM i ORDER BY url, hyponym""",
        # seed KB labels pairs 0..4 (pair 0 twice); rest NA
        "kg_distant_supervision": """
            WITH ctx AS (
              SELECT 'ctx' || doc_id AS context_id,
                     'e' || (doc_id % 10) AS subj,
                     'e' || ((doc_id + 3) % 10) AS obj
              FROM documents),
            kb AS (
              SELECT 'e' || i AS subj, 'e' || ((i + 3) % 10) AS obj,
                     'rel' || i AS relation
              FROM (SELECT unnest([0, 1, 2, 3, 4]) AS i)
              UNION ALL SELECT 'e0', 'e3', 'rel0b')
            SELECT context_id, ctx.subj, ctx.obj,
                   COALESCE(kb.relation, 'NA') AS relation
            FROM ctx LEFT JOIN kb
              ON ctx.subj = kb.subj AND ctx.obj = kb.obj
            ORDER BY context_id, relation""",
        # normalized surface is closed-form: 'entity ' || (doc_id%13)
        "kg_nil_clustering": """
            WITH rows AS (
              SELECT doc_id AS mention_id,
                     doc_id % 7 < 3 AS is_nil,
                     CASE WHEN doc_id % 7 < 3
                          THEN 'urn:nil:entity ' || (doc_id % 13)
                          ELSE 'urn:e:' || (doc_id % 50) END
                       AS resolved_entity
              FROM documents),
            sizes AS (
              SELECT resolved_entity,
                     CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM rows GROUP BY resolved_entity)
            SELECT mention_id, resolved_entity, is_nil, cluster_size
            FROM rows JOIN sizes USING (resolved_entity)
            ORDER BY mention_id""",
        # reduction of chain+skips is provably the chain
        "kg_taxonomy_reduction": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0)
            SELECT b AS doc_a, b + 1 AS doc_b FROM blk
            UNION ALL SELECT b + 1, b + 2 FROM blk
            UNION ALL SELECT b + 2, b + 3 FROM blk
            ORDER BY doc_a, doc_b""",
        # recency window mirror: last non-pronoun entity ignore-nulls
        "kg_coref_chains": """
            WITH d AS (
              SELECT doc_id,
                     'https://example.org/coref/' || doc_id AS url,
                     'urn:e:' || (doc_id % 5) AS ea,
                     'urn:e:' || ((doc_id + 2) % 5) AS eb
              FROM documents),
            m AS (
              SELECT url, 0 AS pos, 'He' AS surface,
                     CAST(NULL AS VARCHAR) AS entity, TRUE AS is_pron
              FROM d WHERE doc_id % 6 = 0
              UNION ALL
              SELECT url, 1, 'Alice' || (doc_id % 5), ea, FALSE FROM d
              UNION ALL
              SELECT url, 2, 'she', NULL, TRUE FROM d
              UNION ALL
              SELECT url, 3, 'Bob' || ((doc_id + 2) % 5), eb, FALSE
              FROM d
              UNION ALL
              SELECT url, 4, 'they', NULL, TRUE FROM d)
            SELECT url, pos, surface, entity, is_pron AS is_pronoun,
                   COALESCE(entity,
                     last_value(CASE WHEN NOT is_pron THEN entity END
                                IGNORE NULLS)
                     OVER (PARTITION BY url ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)) AS resolved_entity
            FROM m ORDER BY url, pos""",
        # closed-form mirror of the planted quote frames
        "kg_quote_attribution": """
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
            ORDER BY url, quote""",
        # normalized surface 'alias ' || (doc_id%8); prior = n/total
        "kg_alias_priors": """
            WITH obs AS (
              SELECT 'alias ' || (doc_id % 8) AS surface,
                     'urn:e:' || ((doc_id % 8)
                       + CASE WHEN doc_id % 3 = 0 THEN 100
                              ELSE 0 END) AS entity
              FROM documents),
            pairs AS (
              SELECT surface, entity, CAST(COUNT(*) AS BIGINT) AS n
              FROM obs GROUP BY surface, entity),
            tot AS (
              SELECT surface, CAST(SUM(n) AS BIGINT) AS total
              FROM pairs GROUP BY surface)
            SELECT surface, entity, n,
                   CAST(n AS DOUBLE) / total AS prior,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY surface
                     ORDER BY n DESC, entity ASC) AS BIGINT) AS rank
            FROM pairs JOIN tot USING (surface)
            ORDER BY surface, rank""",
        # PPR recursion unrolled 3 rounds; all scores dyadic-exact
        "kg_spam_mass": _spam_mass_sql(pr_iters=5, ppr_iters=3),
        "kg_simrank": _simrank_sql(iterations=2),
        "kg_ppr": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            e0 AS (
              SELECT b AS u, b + 1 AS v FROM blk
              UNION ALL SELECT b + 1, b + 2 FROM blk
              UNION ALL SELECT b + 2, b FROM blk
              UNION ALL SELECT b, b + 2 FROM blk),
            deg AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
            e AS (SELECT e0.u, e0.v, deg.d FROM e0
                  JOIN deg ON e0.u = deg.u),
            seed AS (SELECT b AS node, 0.5 AS sm FROM blk),
            r0 AS (SELECT node, sm AS score FROM seed),
            s1 AS (SELECT e.v AS node, SUM(r0.score * 0.5 / e.d) AS sc
                   FROM r0 JOIN e ON r0.node = e.u GROUP BY e.v),
            r1 AS (SELECT COALESCE(s1.node, seed.node) AS node,
                          COALESCE(s1.sc, 0) + COALESCE(seed.sm, 0)
                            AS score
                   FROM s1 FULL OUTER JOIN seed
                     ON s1.node = seed.node),
            s2 AS (SELECT e.v AS node, SUM(r1.score * 0.5 / e.d) AS sc
                   FROM r1 JOIN e ON r1.node = e.u GROUP BY e.v),
            r2 AS (SELECT COALESCE(s2.node, seed.node) AS node,
                          COALESCE(s2.sc, 0) + COALESCE(seed.sm, 0)
                            AS score
                   FROM s2 FULL OUTER JOIN seed
                     ON s2.node = seed.node),
            s3 AS (SELECT e.v AS node, SUM(r2.score * 0.5 / e.d) AS sc
                   FROM r2 JOIN e ON r2.node = e.u GROUP BY e.v),
            r3 AS (SELECT COALESCE(s3.node, seed.node) AS node,
                          COALESCE(s3.sc, 0) + COALESCE(seed.sm, 0)
                            AS score
                   FROM s3 FULL OUTER JOIN seed
                     ON s3.node = seed.node)
            SELECT node, score FROM r3 ORDER BY node""",
        # md5-argmin walk recursion replayed step by step
        "train_kg_walks": """
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
            ORDER BY start, walk_idx, step""",
        # majority type per planted column; the n/a cell never wins
        "kg_table_column_types": """
            WITH c AS (SELECT unnest([0, 1, 2, 3]) AS col_idx)
            SELECT 'https://example.org/dtable/' || doc_id AS url,
                   0 AS table_idx, col_idx,
                   CASE col_idx WHEN 0 THEN 'date' WHEN 1 THEN 'int'
                        WHEN 2 THEN 'url' ELSE 'text' END AS col_type,
                   CAST(3 AS BIGINT) AS n_cells
            FROM documents, c ORDER BY url, col_idx""",
        # value-overlap column matching; disjoint pairs never appear
        "kg_schema_matching": """
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
            ORDER BY col_a, col_b""",
        # the 12-pair FD audit matrix, one groupBy per pair
        "kg_fd_discovery": (
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
            + " ORDER BY lhs, rhs"),
        # closed-form mirror of the planted unit strings
        "kg_unit_normalize": """
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 0 THEN (doc_id % 9) || ' km'
                     WHEN 1 THEN (doc_id % 9) || ' g'
                     WHEN 2 THEN (doc_id % 4) || ' MB'
                     WHEN 3 THEN 'fast'
                     ELSE (doc_id % 9) || ' furlongs' END AS raw,
                   CASE WHEN doc_id % 5 = 3 THEN NULL
                        WHEN doc_id % 5 = 2
                          THEN CAST(doc_id % 4 AS BIGINT)
                        ELSE CAST(doc_id % 9 AS BIGINT) END AS amount,
                   CASE doc_id % 5
                     WHEN 0 THEN 'km' WHEN 1 THEN 'g'
                     WHEN 2 THEN 'MB' WHEN 3 THEN NULL
                     ELSE 'furlongs' END AS unit,
                   CASE doc_id % 5
                     WHEN 0 THEN CAST((doc_id % 9) * 1000 AS BIGINT)
                     WHEN 1 THEN CAST(doc_id % 9 AS BIGINT)
                     WHEN 2 THEN CAST((doc_id % 4) * 1048576 AS BIGINT)
                     ELSE NULL END AS value_si,
                   CASE doc_id % 5
                     WHEN 0 THEN 'm' WHEN 1 THEN 'g' WHEN 2 THEN 'B'
                     ELSE NULL END AS dimension
            FROM documents ORDER BY doc_id""",
        # closed-form mirror of the planted coordinate literals
        "kg_geo_coords": """
            WITH d AS (
              SELECT doc_id,
                     (doc_id % 90) || '.' || (doc_id % 10) AS lat_s,
                     (doc_id % 180) || '.' || ((doc_id + 3) % 10)
                       AS lon_s,
                     CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END
                       AS ns,
                     CASE WHEN doc_id % 3 = 0 THEN 'W' ELSE 'E' END
                       AS ew
              FROM documents)
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 'unknown'
                        ELSE lat_s || '° ' || ns || ', '
                             || lon_s || '° ' || ew END AS raw,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE (CASE WHEN ns = 'S' THEN -1 ELSE 1 END)
                             * CAST(lat_s AS DOUBLE) END AS lat,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE (CASE WHEN ew = 'W' THEN -1 ELSE 1 END)
                             * CAST(lon_s AS DOUBLE) END AS lon
            FROM d ORDER BY doc_id""",
        # mirrors the pairwise-eval computation join for join
        "dedup_er_eval": """
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
            FROM m""",
        # closed-form mirror of the planted sentence boundaries
        "text_sentences": """
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
            FROM i ORDER BY url, sent_idx""",
        # HyperBall registers: 2 unrolled propagation rounds over the
        # planted 4-cycle, portable md5 rank recipe (salt "hb")
        "kg_hyperball": r"""
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            e AS (SELECT b AS u, b + 1 AS v FROM blk
                  UNION ALL SELECT b + 1, b + 2 FROM blk
                  UNION ALL SELECT b + 2, b + 3 FROM blk
                  UNION ALL SELECT b + 3, b FROM blk),
            nodes AS (SELECT u AS node FROM e
                      UNION SELECT v FROM e),
            h AS (SELECT node,
                    CAST(('0x' || substr(md5('hb:' ||
                      CAST(node AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
                  FROM nodes),
            r0 AS (SELECT node, hv % 16 AS register,
                     CAST(CASE WHEN (hv - hv % 16) // 16 = 0 THEN 25
                          ELSE bit_count(xor((hv - hv % 16) // 16,
                                 (hv - hv % 16) // 16 - 1)) END
                       AS INT) AS max_rank
                   FROM h),
            r1 AS (SELECT node, register,
                          CAST(MAX(max_rank) AS INT) AS max_rank
                   FROM (SELECT node, register, max_rank FROM r0
                         UNION ALL
                         SELECT e.u, r0.register, r0.max_rank
                         FROM e JOIN r0 ON r0.node = e.v)
                   GROUP BY node, register),
            r2 AS (SELECT node, register,
                          CAST(MAX(max_rank) AS INT) AS max_rank
                   FROM (SELECT node, register, max_rank FROM r1
                         UNION ALL
                         SELECT e.u, r1.register, r1.max_rank
                         FROM e JOIN r1 ON r1.node = e.v)
                   GROUP BY node, register)
            SELECT node, CAST(0 AS INT) AS radius, register, max_rank
              FROM r0
            UNION ALL
            SELECT node, 1, register, max_rank FROM r1
            UNION ALL
            SELECT node, 2, register, max_rank FROM r2
            ORDER BY radius, node, register""",
        # expected flattening emitted closed-form from the plant
        "kg_rdf_lists": """
            WITH d AS (SELECT doc_id FROM documents
                       WHERE doc_id % 10 = 0),
            el AS (SELECT doc_id,
                          unnest(generate_series(0, doc_id % 3)) AS i
                   FROM d)
            SELECT 'https://example.org/res/doc/' || doc_id AS subj,
                   'https://example.org/vocab/authorList' AS pred,
                   CAST(i AS BIGINT) AS idx,
                   'https://example.org/res/person/'
                     || ((doc_id * 7 + i) % 50) AS member
            FROM el ORDER BY subj, idx""",
        # the closed-form OWL-RL delta: inverse, symmetric mirror,
        # one transitive hop per planted chain
        "kg_owl_entailed": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            inf AS (
              SELECT 'https://example.org/res/doc/' || (b + 2) AS subj,
                     'https://example.org/vocab/hasPart' AS pred,
                     'https://example.org/res/doc/' || b AS obj
              FROM blk
              UNION ALL
              SELECT 'https://example.org/res/doc/' || (b + 1),
                     'https://example.org/vocab/connected',
                     'https://example.org/res/doc/' || b FROM blk
              UNION ALL
              SELECT 'https://example.org/res/doc/' || b,
                     'https://example.org/vocab/ancestor',
                     'https://example.org/res/doc/' || (b + 2) FROM blk)
            SELECT subj, pred, obj,
                   'https://example.org/ctx' AS context
            FROM inf ORDER BY pred, subj""",
        # same (url, pos) election replayed relationally
        "dedup_paragraph": """
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
            ORDER BY s.url""",
        # URL-matching self-join + Gale-Church length-ratio filter
        "text_bitext_pairs": """
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
            ORDER BY path_key, lang_a, lang_b, url_a, url_b""",
        # features closed-form from the doubled fixed-offset plant
        "kg_entity_salience": """
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
            FROM m ORDER BY url, "rank" """,
        # the 7 planted microdata triples per page, closed-form;
        # item ids are document-order skolems url#item0 / url#item1
        "kg_microdata_triples": """
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
            ORDER BY url, item_id, pred, obj""",
        # the two planted alternates; the stylesheet link must NOT
        # appear
        "kg_hreflang_links": """
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
            ORDER BY url, hreflang""",
        # the planted og/twitter metas in document order; viewport +
        # plain description noise must not appear
        "kg_social_meta_tags": """
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
            FROM t ORDER BY url, pos""",
        # resolved precedence: og beats twitter, first og:title wins,
        # image falls back to twitter when og:image absent,
        # description row absent on odd docs
        "kg_page_cards": """
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
            ORDER BY url, field""",
        # the 7 planted leaf blocks per page, closed-form features +
        # context-free labels; nav 11/12 link chars = 916 permille,
        # footer 12/13 = 923
        "clean_content_blocks": """
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
            FROM b ORDER BY url, block_id""",
        # after smoothing: good blocks are 2 (26w), 3 (near beside
        # good) and 5 (30w); heading and stub fall to bad
        "clean_main_content": """
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
            FROM d ORDER BY url""",
        # ratio-margin bitext: integer micro-cosines, per-side top-4
        # sums/counts, permille margin by integer division, best
        # target per source at threshold 1000
        "sim_margin_bitext": """
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
            ORDER BY src_id""",
        # identical per-index lengths -> the optimal alignment is the
        # 1-1 diagonal, emitted closed-form
        "bitext_galechurch": """
            SELECT doc_id AS pair_id, CAST(i AS INT) AS bead_id,
                   CAST(i AS INT) AS a_start, 1 AS n_a,
                   CAST(i AS INT) AS b_start, 1 AS n_b,
                   '1-1' AS bead
            FROM (SELECT doc_id, unnest(range(4 + doc_id % 3)) AS i
                  FROM documents)
            ORDER BY pair_id, bead_id""",
        # doc_id%4: 0 -> both, 1 -> noindex (mixed case), 2 ->
        # nofollow, 3 -> neither
        "crawl_robots_meta": """
            SELECT 'https://example.org/robots/' || doc_id AS url,
                   (doc_id % 4) IN (0, 1) AS noindex,
                   (doc_id % 4) IN (0, 2) AS nofollow
            FROM documents ORDER BY url""",
        # 4 links per page in document order; rel=nofollow and
        # 'ugc nofollow' never follow; meta nofollow (every 5th doc)
        # kills the rest too
        "crawl_follow_edges": """
            WITH d AS (
              SELECT doc_id,
                     'https://example.org/page/' || doc_id AS src,
                     doc_id % 5 <> 0 AS page_follow
              FROM documents),
            e AS (
              SELECT src AS src_url, 0 AS position,
                     'https://example.org/plain/' || doc_id AS href,
                     page_follow AS follow FROM d
              UNION ALL
              SELECT src, 1, 'https://example.org/nf/' || doc_id,
                     FALSE FROM d
              UNION ALL
              SELECT src, 2, 'https://example.org/ugc/' || doc_id,
                     FALSE FROM d
              UNION ALL
              SELECT src, 3, 'https://example.org/me/' || doc_id,
                     page_follow FROM d)
            SELECT src_url, CAST(position AS INT) AS position, href,
                   follow
            FROM e ORDER BY src_url, position""",
        # two entries per feed; RSS entry B has no pubDate (NULL),
        # Atom entry A's published beats updated, B falls back to
        # updated
        "crawl_feed_entries": """
            WITH d AS (
              SELECT doc_id,
                     'https://example.org/feed/' || doc_id AS furl,
                     doc_id % 2 = 0 AS is_rss
              FROM documents),
            e AS (
              SELECT furl AS feed_url, 0 AS idx,
                     'Post ' || doc_id || ' A' AS title,
                     'https://example.org/p/' || doc_id || '/a'
                       AS link,
                     'tag:' || doc_id || ':a' AS entry_id,
                     CASE WHEN is_rss THEN 'Mon, 01 Jan 2024'
                          ELSE '2024-01-01T00:00:00Z'
                     END AS published
              FROM d
              UNION ALL
              SELECT furl, 1, 'Post ' || doc_id || ' B',
                     'https://example.org/p/' || doc_id || '/b',
                     'tag:' || doc_id || ':b',
                     CASE WHEN is_rss THEN NULL
                          ELSE '2024-02-01T00:00:00Z' END
              FROM d)
            SELECT feed_url, CAST(idx AS INT) AS idx, title, link,
                   entry_id, published
            FROM e ORDER BY feed_url, idx""",
        # even docs: the exact ferendabot group's single rule; odd:
        # the * group's two rules in file order
        "crawl_parse_robots": """
            WITH d AS (
              SELECT doc_id,
                     'h' || doc_id || '.example.org' AS host
              FROM documents),
            r AS (
              SELECT host, '/bot' || (doc_id % 5) AS path_prefix,
                     FALSE AS allow, 0 AS rule_no
              FROM d WHERE doc_id % 2 = 0
              UNION ALL
              SELECT host, '/private', FALSE, 0
              FROM d WHERE doc_id % 2 = 1
              UNION ALL
              SELECT host, '/private/ok' || (doc_id % 3), TRUE, 1
              FROM d WHERE doc_id % 2 = 1)
            SELECT host, path_prefix, allow,
                   CAST(rule_no AS INT) AS rule_no
            FROM r ORDER BY host, rule_no""",
        # delay comes only from the MATCHED group (ferendabot has
        # none -> NULL on even docs); sitemaps are group-independent
        "crawl_robots_host_meta": """
            SELECT 'h' || doc_id || '.example.org' AS host,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN NULL
                        ELSE 2000 END AS BIGINT) AS crawl_delay_ms,
                   'https://h' || doc_id
                     || '.example.org/sitemap.xml' AS sitemap,
                   0 AS sitemap_no
            FROM documents ORDER BY host, sitemap_no""",
        # one SURT key per doc (www/:443/utm noise collapses), 3
        # captures, 2 distinct digests
        "crawl_cdx_index": """
            SELECT 'org,example,h' || (doc_id % 50) || ')/page/'
                     || doc_id || '?q=1' AS surt,
                   CAST(3 AS BIGINT) AS n_captures,
                   CAST(2 AS BIGINT) AS n_versions,
                   '2024-01-01' AS first_ts,
                   '2024-01-03' AS last_ts
            FROM documents ORDER BY surt""",
        # closed-form: the planted blob kind per doc_id%8
        "mm_mime_sniff": """
            SELECT doc_id,
                   CASE doc_id % 8
                     WHEN 0 THEN 'image/jpeg'
                     WHEN 1 THEN 'image/png'
                     WHEN 2 THEN 'image/gif'
                     WHEN 3 THEN 'audio/wav'
                     WHEN 4 THEN 'application/pdf'
                     WHEN 5 THEN 'application/gzip'
                     WHEN 6 THEN 'text/html'
                     ELSE 'application/octet-stream'
                   END AS mime
            FROM documents ORDER BY doc_id""",
        # minhash-estimate pipeline + the contrastive CASE label
        "train_contrastive_pairs": "WITH " + _MINHASH_CTE + """,
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
            FROM agg ORDER BY doc_a, doc_b""",
        # per-column profile, values rendered as strings on both sides
        "stats_profile_documents": """
            WITH prof AS (
              SELECT 'doc_id' AS col, CAST(doc_id AS VARCHAR) AS v
              FROM documents
              UNION ALL SELECT 'text', text FROM documents
              UNION ALL SELECT 'lang', lang FROM documents
              UNION ALL SELECT 'source', source FROM documents
              UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
                FROM documents)
            SELECT col AS "column",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
                   MIN(v) AS min_val, MAX(v) AS max_val
            FROM prof GROUP BY col ORDER BY col""",
        # same co-mention aggregation replayed relationally; lift is
        # one exact integer-ratio division
        "kg_entity_cooccurrence": """
            WITH de AS (
              SELECT DISTINCT url, entity FROM (
                SELECT 'https://example.org/docs/' || doc_id AS url,
                       'https://example.org/res/entity/'
                         || (doc_id % 50) AS entity FROM documents
                UNION ALL
                SELECT 'https://example.org/docs/' || doc_id,
                       'https://example.org/res/entity/'
                         || ((doc_id * 3 + 1) % 50) FROM documents
                UNION ALL
                SELECT 'https://example.org/docs/' || doc_id,
                       'https://example.org/res/entity/'
                         || ((doc_id * 7 + 2) % 50)
                FROM documents WHERE doc_id % 2 = 0)),
            nd AS (SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS n
                   FROM de),
            pairs AS (
              SELECT a.entity AS entity_a, b.entity AS entity_b,
                     CAST(COUNT(*) AS BIGINT) AS c_ab
              FROM de a JOIN de b
                ON a.url = b.url AND a.entity < b.entity
              GROUP BY 1, 2),
            marg AS (SELECT entity, CAST(COUNT(*) AS BIGINT) AS c
                     FROM de GROUP BY entity)
            SELECT p.entity_a, p.entity_b, p.c_ab,
                   ma.c AS c_a, mb.c AS c_b, nd.n AS n_docs,
                   CAST(nd.n * p.c_ab AS DOUBLE)
                     / CAST(ma.c * mb.c AS DOUBLE) AS lift
            FROM pairs p
            JOIN marg ma ON ma.entity = p.entity_a
            JOIN marg mb ON mb.entity = p.entity_b
            CROSS JOIN nd
            ORDER BY p.entity_a, p.entity_b""",
        # incremental merge must equal the from-scratch closed form
        "kg_sameas_incremental": "WITH " + _F_CTE + """,
            verts AS (
              SELECT DISTINCT v FROM (
                SELECT doc_id AS v FROM f WHERE doc_id % 4 <> 0
                UNION ALL
                SELECT doc_id - 1 FROM f WHERE doc_id % 4 <> 0))
            SELECT 'https://example.org/res/doc/' || v AS uri,
                   'https://example.org/res/doc/' || (v - (v % 4))
                     AS canonical_uri
            FROM verts ORDER BY uri""",
        # min/max of the two planted dates, closed-form; the decoy
        # 2020-13-40 must never match
        "kg_publication_dates": """
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
            FROM d ORDER BY url""",
        # planted violations, closed-form (the real broadcast-join +
        # per-focus aggregation runs Spark-side)
        "kg_shacl_violations": """
            WITH d AS (SELECT doc_id,
                   'https://example.org/res/doc/' || doc_id AS focus
                   FROM documents)
            SELECT focus, 's_title' AS shape_id,
                   'minCount' AS "constraint",
                   CAST(1 AS BIGINT) AS expected,
                   CAST(0 AS BIGINT) AS actual
            FROM d WHERE doc_id % 11 = 0
            UNION ALL
            SELECT focus, 's_issued', 'maxCount', 1, 2
            FROM d WHERE doc_id % 13 = 0
            UNION ALL
            SELECT focus, 's_words', 'pattern', 0, 1
            FROM d WHERE doc_id % 17 = 0
            ORDER BY focus, shape_id, "constraint" """,
        "kg_disjoint_violations": """
            SELECT 'https://example.org/res/doc/' || doc_id AS subj,
                   'https://example.org/vocab#Organization' AS class_a,
                   'https://example.org/vocab#Person' AS class_b
            FROM documents WHERE doc_id % 6 = 0 ORDER BY subj""",
        # expected parse of the five closed-form N-Quads line shapes
        "kg_nquads_triples": """
            WITH d AS (SELECT doc_id,
                   '<https://example.org/s/' || doc_id || '>' AS s,
                   '<https://example.org/p/' || (doc_id % 7) || '>' AS p
                   FROM documents)
            SELECT
              CASE WHEN doc_id % 5 = 4 THEN NULL
                   WHEN doc_id % 5 = 3 THEN '_:b' || doc_id
                   ELSE 'https://example.org/s/' || doc_id END AS subj,
              CASE WHEN doc_id % 5 = 4 THEN NULL
                   ELSE 'https://example.org/p/' || (doc_id % 7)
                   END AS pred,
              CASE doc_id % 5
                WHEN 0 THEN 'https://example.org/o/' || doc_id
                WHEN 1 THEN 'title ' || doc_id
                WHEN 2 THEN 'v"' || doc_id
                WHEN 3 THEN CAST(doc_id AS VARCHAR)
                ELSE NULL END AS obj,
              CASE WHEN doc_id % 5 = 4 THEN NULL
                   ELSE (doc_id % 5 IN (1, 2, 3)) END AS is_literal,
              CASE WHEN doc_id % 5 = 2 THEN 'en' END AS obj_lang,
              CASE WHEN doc_id % 5 = 3
                   THEN 'http://www.w3.org/2001/XMLSchema#integer'
                   END AS obj_datatype,
              CASE WHEN doc_id % 5 = 3
                   THEN 'https://example.org/g/' || (doc_id % 3)
                   END AS graph,
              (doc_id % 5 <> 4) AS parse_ok,
              CASE doc_id % 5
                WHEN 0 THEN s || ' ' || p || ' <https://example.org/o/'
                            || doc_id || '> .'
                WHEN 1 THEN s || ' ' || p || ' "title ' || doc_id
                            || '" .'
                WHEN 2 THEN s || ' ' || p || ' "v\\"' || doc_id
                            || '"@en .'
                WHEN 3 THEN '_:b' || doc_id || ' ' || p || ' "'
                            || doc_id
                            || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
                            || ' <https://example.org/g/' || (doc_id % 3)
                            || '> .'
                ELSE 'malformed ' || doc_id END AS raw
            FROM d ORDER BY raw""",
        # expected parse of the synthesized per-doc Turtle payloads:
        # 6 triples per good doc, 1 quarantine row per malformed doc
        "kg_turtle_triples": """
            WITH d AS (SELECT doc_id, coalesce(lang, 'en') AS lang,
                   source, CAST(length(text) AS VARCHAR) AS len,
                   'https://example.org/doc' || doc_id AS s
                   FROM documents),
            good AS (SELECT * FROM d WHERE doc_id % 11 <> 10),
            trip AS (
              SELECT doc_id, s AS subj,
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                  AS pred,
                'https://example.org/Document' AS obj,
                FALSE AS is_literal, CAST(NULL AS VARCHAR) AS obj_lang,
                CAST(NULL AS VARCHAR) AS obj_datatype
              FROM good
              UNION ALL
              SELECT doc_id, s, 'http://purl.org/dc/terms/title',
                'Doc "' || doc_id || '"', TRUE, lang, NULL FROM good
              UNION ALL
              SELECT doc_id, s, 'http://purl.org/dc/terms/extent',
                len, TRUE, NULL,
                'http://www.w3.org/2001/XMLSchema#integer' FROM good
              UNION ALL
              SELECT doc_id, s, 'https://example.org/score',
                (doc_id % 10) || '.25', TRUE, NULL,
                'http://www.w3.org/2001/XMLSchema#decimal' FROM good
              UNION ALL
              SELECT doc_id, s, 'https://example.org/source',
                'https://example.org/src_' || source, FALSE, NULL,
                NULL FROM good
              UNION ALL
              SELECT doc_id, s, 'https://example.org/source',
                'https://example.org/mirror_' || source, FALSE, NULL,
                NULL FROM good)
            SELECT doc_id, subj, pred, obj, is_literal, obj_lang,
                   obj_datatype, TRUE AS parse_ok,
                   CAST(NULL AS VARCHAR) AS error
            FROM trip
            UNION ALL
            SELECT doc_id, NULL, NULL, NULL, CAST(NULL AS BOOLEAN),
                   NULL, NULL, FALSE,
                   'ValueError: turtle parse error at ''???'''
            FROM d WHERE doc_id % 11 = 10
            ORDER BY doc_id, pred, obj""",
        # string_agg replay of the canonical per-subject card
        "kg_entity_cards":
            "WITH " + _F_CTE + ", " + _DOC_TRIPLES + """,
            t AS (SELECT DISTINCT subj, pred, obj FROM doc_triples
                  WHERE obj IS NOT NULL)
            SELECT subj, CAST(COUNT(*) AS BIGINT) AS n_triples,
                   CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_preds,
                   string_agg(pred || '=' || obj, '; '
                              ORDER BY pred, obj) AS card
            FROM t GROUP BY subj ORDER BY subj""",
        # integer-exact Bernoulli: u32(md5) * max_w < w * 2^32
        "train_weighted_sample": """
            SELECT doc_id, CAST(1 + doc_id % 10 AS BIGINT) AS weight
            FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) * 10
                  < (1 + doc_id % 10) * 4294967296
            ORDER BY doc_id""",
        # relational replay of the reciprocity program
        "kg_spam_features": """
            WITH d AS (SELECT doc_id FROM documents),
            raw AS (
              SELECT 'h' || (doc_id % 20) AS src_host,
                     'h' || ((doc_id * 3 + 1) % 20) AS dst_host FROM d
              UNION ALL
              SELECT 'h' || ((doc_id * 3 + 1) % 20),
                     'h' || (doc_id % 20) FROM d WHERE doc_id % 4 = 0
              UNION ALL
              SELECT 'h' || (doc_id % 20), 'h' || (doc_id % 20)
              FROM d WHERE doc_id % 10 = 0),
            e AS (SELECT DISTINCT src_host, dst_host FROM raw),
            fwd AS (SELECT * FROM e WHERE src_host <> dst_host),
            selfs AS (SELECT src_host AS host,
                             CAST(1 AS BIGINT) AS self_links
                      FROM e WHERE src_host = dst_host),
            outd AS (SELECT src_host AS host,
                            CAST(COUNT(*) AS BIGINT) AS out_hosts
                     FROM fwd GROUP BY 1),
            ind AS (SELECT dst_host AS host,
                           CAST(COUNT(*) AS BIGINT) AS in_hosts
                    FROM fwd GROUP BY 1),
            recip AS (SELECT a.src_host AS host,
                             CAST(COUNT(*) AS BIGINT) AS recip_hosts
                      FROM fwd a JOIN fwd b
                        ON a.src_host = b.dst_host
                       AND a.dst_host = b.src_host GROUP BY 1),
            hosts AS (SELECT host FROM outd UNION SELECT host FROM ind)
            SELECT h.host,
                   COALESCE(o.out_hosts, 0) AS out_hosts,
                   COALESCE(i.in_hosts, 0) AS in_hosts,
                   COALESCE(r.recip_hosts, 0) AS recip_hosts,
                   COALESCE(s.self_links, 0) AS self_links,
                   CASE WHEN COALESCE(o.out_hosts, 0) > 0
                        THEN COALESCE(r.recip_hosts, 0) * 1000000
                             // o.out_hosts
                        ELSE 0 END AS reciprocity_ppm
            FROM hosts h
            LEFT JOIN outd o USING (host) LEFT JOIN ind i USING (host)
            LEFT JOIN recip r USING (host) LEFT JOIN selfs s USING (host)
            ORDER BY h.host""",
        # full relational replay of winnowing (k=3, w=4, 12 tokens):
        # gram hashes, window replication, rightmost-min composite key
        "text_winnowing": """
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
            FROM sel ORDER BY doc_id, pos""",
        # closed-form: 3-cycle -> max member (base+2), tails singleton
        "kg_scc_labels": """
            WITH lim AS (SELECT (COUNT(*) // 5) * 5 AS v FROM documents)
            SELECT doc_id AS node,
                   CASE WHEN doc_id % 5 <= 2
                        THEN doc_id - (doc_id % 5) + 2
                        ELSE doc_id END AS scc
            FROM documents, lim WHERE doc_id < lim.v ORDER BY node""",
        # tie on SCC size 3 -> smallest scc id (group 0) is CORE; its
        # tail is OUT; no node reaches into a cycle, so the rest is
        # OTHER
        "kg_bowtie_classes": """
            WITH lim AS (SELECT (COUNT(*) // 5) * 5 AS v FROM documents)
            SELECT doc_id AS node,
                   CASE WHEN doc_id <= 2 THEN 'CORE'
                        WHEN doc_id IN (3, 4) THEN 'OUT'
                        ELSE 'OTHER' END AS cls
            FROM documents, lim WHERE doc_id < lim.v ORDER BY node""",
        # verbatim bit-math mirror of the Morton interleave
        "store_zorder_layout": """
            WITH d AS (SELECT doc_id, doc_id % 256 AS x,
                              (doc_id * 7 + 3) % 256 AS y
                       FROM documents)
            SELECT doc_id, x, y, (""" + _Z_TERMS + """) AS zvalue,
                   (""" + _Z_TERMS + """) >> 12 AS zbucket
            FROM d ORDER BY doc_id""",
        # exact replay of the bias-corrected Poisson estimator:
        # n = 3 intervals, X = c1+c2+c3 planted changes, mean
        # interval = iv exactly, same IEEE ln/div/floor sequence
        "crawl_recrawl_schedule": """
            WITH d AS (SELECT doc_id,
                   'https://example.org/r/' || doc_id AS url,
                   (1 + doc_id % 5) * 3600 AS iv,
                   (CASE WHEN (doc_id // 1) % 2 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN (doc_id // 2) % 2 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN (doc_id // 3) % 2 = 0 THEN 1 ELSE 0 END)
                   AS x,
                   doc_id % 4 = 3 AS single
                   FROM documents),
            est AS (SELECT url,
                   CASE WHEN single THEN CAST(1 AS BIGINT)
                        ELSE 4 END AS n_visits,
                   CASE WHEN single THEN CAST(0 AS BIGINT)
                        ELSE CAST(x AS BIGINT) END AS n_changes,
                   CASE WHEN single THEN NULL
                        ELSE -ln((3 - x + 0.5) / 3.5)
                             / CAST(iv AS DOUBLE) END AS lambda_hat,
                   CASE WHEN single THEN 1000000
                        ELSE 1000000 + 3 * iv END AS last_ts
                   FROM d)
            SELECT url, n_visits, n_changes, lambda_hat,
                   CAST(last_ts + CASE
                        WHEN lambda_hat IS NULL OR lambda_hat <= 0.0
                        THEN 2592000
                        ELSE least(2592000, greatest(3600,
                             CAST(floor(1.0 / lambda_hat) AS BIGINT)))
                        END AS BIGINT) AS next_fetch
            FROM est ORDER BY url""",
        # the three closed-form path families collapse to one
        # template each per host
        # suffix-chain blocklist: hosts closed-form in doc_id; the
        # matched suffix is the longest (most specific) rule
        "crawl_blocklist_filter": """
            WITH u AS (
              SELECT 'https://' ||
                     (CASE doc_id % 4
                        WHEN 0 THEN 'a.b.spam.test'
                        WHEN 1 THEN 'c.spam.test'
                        WHEN 2 THEN 'ok.example.org'
                        ELSE 'good.net' END) || '/p/' || doc_id
                       AS url,
                     CASE doc_id % 4
                        WHEN 0 THEN 'a.b.spam.test'
                        WHEN 1 THEN 'c.spam.test'
                        WHEN 2 THEN 'ok.example.org'
                        ELSE 'good.net' END AS host
              FROM documents),
            bl AS (SELECT unnest(['spam.test', 'bad.org'])
                     AS suffix),
            ex AS (
              SELECT url, host,
                     array_to_string(
                       string_split(host, '.')[i:], '.') AS suffix
              FROM u, LATERAL (
                SELECT unnest(generate_series(1,
                  len(string_split(host, '.')))) AS i) s),
            hits AS (
              SELECT ex.url,
                     max_by(ex.suffix, length(ex.suffix)) AS ms
              FROM ex JOIN bl ON ex.suffix = bl.suffix
              GROUP BY ex.url)
            SELECT u.url, u.host, hits.url IS NOT NULL AS blocked,
                   hits.ms AS matched_suffix
            FROM u LEFT JOIN hits ON u.url = hits.url
            ORDER BY u.url""",
        # DUST param mining: same URL synthesis as the Spark side,
        # parsed back with SQL string ops (host = 3rd slash field,
        # residual = sorted other params)
        "crawl_param_significance": "WITH " + _F_CTE + r""",
            combos AS (
              SELECT f.doc_id, f.url AS base, p.p, v.v
              FROM f, (VALUES (1), (2)) p(p),
                   (VALUES ('a'), ('b')) v(v)),
            u AS (
              SELECT base || '?page=' || p || '&sessionid=s'
                       || doc_id || v AS url,
                     md5(doc_id || '-' || p) AS h
              FROM combos),
            parsed AS (
              SELECT url, h,
                     string_split(url, '/')[3] AS host,
                     '/' || array_to_string(
                       string_split(string_split(url, '?')[1],
                                    '/')[4:], '/') AS path,
                     string_split(url, '?')[2] AS q
              FROM u),
            ex AS (
              SELECT host, path, h, q,
                     unnest(string_split(q, '&')) AS kv
              FROM parsed),
            pr AS (
              SELECT host, path, h,
                     string_split(kv, '=')[1] AS param,
                     string_split(kv, '=')[2] AS val,
                     array_to_string(list_sort(list_filter(
                       string_split(q, '&'),
                       x -> string_split(x, '=')[1]
                            <> string_split(kv, '=')[1])), '&')
                       AS residual
              FROM ex),
            g AS (
              SELECT host, path, param, residual,
                     COUNT(DISTINCT val) AS nv,
                     COUNT(DISTINCT h) AS nh
              FROM pr GROUP BY 1, 2, 3, 4
              HAVING COUNT(DISTINCT val) >= 2)
            SELECT host, param,
                   COUNT(*) AS n_groups,
                   CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_varying,
                   CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END)
                        * 1000000 // COUNT(*) AS BIGINT)
                     AS significance_ppm,
                   SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END) = 0
                     AS droppable
            FROM g GROUP BY host, param
            ORDER BY host, param""",
        "crawl_url_templates": """
            WITH d AS (SELECT doc_id, doc_id % 3 AS r,
                   's' || (doc_id % 4) || '.example.org' AS host
                   FROM documents),
            base AS (SELECT
                   CASE r WHEN 0 THEN host || '/item/{n}/view'
                          WHEN 1 THEN host || '/cal/{n}/{n}'
                          ELSE host || '/doc/{h}' END AS template,
                   CASE r WHEN 2 THEN 2 ELSE 3 END AS depth,
                   CASE r WHEN 0 THEN 'c' || doc_id
                          WHEN 1 THEN 'cal'
                          ELSE 'c' || (doc_id % 10) END AS h
                   FROM d)
            SELECT template, CAST(COUNT(*) AS BIGINT) AS n_urls,
                   CAST(MAX(depth) AS BIGINT) AS max_depth,
                   CAST(COUNT(DISTINCT h) AS BIGINT)
                     AS n_distinct_content,
                   CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT h)
                     AS urls_per_content
            FROM base GROUP BY template ORDER BY template""",
        # scores are k/256 so every partial sum is exact and
        # order-independent; ratios are single IEEE divisions
        "stats_calibration_bins": """
            WITH s AS (SELECT
                   ((doc_id * 37 + 11) % 256) / 256.0 AS score,
                   CASE WHEN (doc_id * 7 + 3) % 10 < 5
                        THEN 1 ELSE 0 END AS label
                   FROM documents),
            b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9)
                         AS bin, score, label FROM s)
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(label) AS BIGINT) AS n_pos,
                   SUM(score) / COUNT(*) AS mean_score,
                   CAST(SUM(label) AS DOUBLE) / COUNT(*) AS frac_pos,
                   abs(CAST(SUM(label) AS DOUBLE) / COUNT(*)
                       - SUM(score) / COUNT(*)) AS gap
            FROM b GROUP BY bin ORDER BY bin""",
        # pinned whitespace tokenizer, char vs byte lengths, two
        # IEEE ratios in the same operation order as the operator
        "text_tokenizer_fertility": """
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
            FROM toks GROUP BY lang ORDER BY lang""",
        # full relational replay of the AMIE-lite program over the
        # planted likes/buys/views KG
        "kg_mined_rules": "WITH " + _RULES_KG_CTE + """
            SELECT s.body_pred, s.head_pred, s.support,
                   mb.n_pairs AS n_body, mh.n_pairs AS n_head,
                   CAST(s.support AS DOUBLE) / mh.n_pairs
                     AS head_coverage,
                   CAST(s.support AS DOUBLE) / mb.n_pairs
                     AS confidence,
                   CAST(s.support AS DOUBLE) / p.n_pca_body
                     AS pca_confidence
            FROM sup s
            JOIN marg mb ON mb.pred = s.body_pred
            JOIN marg mh ON mh.pred = s.head_pred
            JOIN pca p ON p.body_pred = s.body_pred
                      AND p.head_pred = s.head_pred
            ORDER BY s.body_pred, s.head_pred""",
        # predicted-but-absent head facts for every rule at CWA
        # confidence >= 0.9
        "kg_rule_violations": "WITH " + _RULES_KG_CTE + """,
            rules AS (SELECT s.body_pred, s.head_pred,
                             CAST(s.support AS DOUBLE) / mb.n_pairs
                               AS confidence
                      FROM sup s
                      JOIN marg mb ON mb.pred = s.body_pred
                      WHERE CAST(s.support AS DOUBLE) / mb.n_pairs
                            >= 0.9)
            SELECT b.subj, b.obj, r.head_pred, r.body_pred,
                   r.confidence
            FROM t b JOIN rules r ON b.pred = r.body_pred
            WHERE NOT EXISTS (SELECT 1 FROM t h
                              WHERE h.subj = b.subj AND h.obj = b.obj
                                AND h.pred = r.head_pred)
            ORDER BY b.subj, r.body_pred, r.head_pred""",
        # full relational replay of the mirror program: distinct
        # (host, hash), >16-host template guard, self-join, size join
        "crawl_mirror_hosts": """
            WITH rows AS (
              SELECT 'a' || (doc_id % 3) || '.example.org' AS host,
                     'x' || ((doc_id // 3) % 7) AS h FROM documents
              UNION ALL
              SELECT 'a' || (doc_id % 3) || '.example.org', 'boiler'
              FROM documents
              UNION ALL
              SELECT 'b' || (doc_id % 20) || '.example.org', 'boiler'
              FROM documents
              UNION ALL
              SELECT 'p' || (doc_id % 2) || '.example.org',
                     'y' || ((doc_id % 2) * 2 + (doc_id // 2) % 6)
              FROM documents),
            hh AS (SELECT DISTINCT host, h FROM rows),
            keep AS (SELECT h FROM hh GROUP BY h
                     HAVING COUNT(*) <= 16),
            hk AS (SELECT hh.host, hh.h FROM hh JOIN keep USING (h)),
            sizes AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n
                      FROM hk GROUP BY host),
            shared AS (SELECT a.host AS host_a, b.host AS host_b,
                              CAST(COUNT(*) AS BIGINT) AS n_shared
                       FROM hk a JOIN hk b
                         ON a.h = b.h AND a.host < b.host
                       GROUP BY a.host, b.host
                       HAVING COUNT(*) >= 2)
            SELECT s.host_a, s.host_b, s.n_shared,
                   sa.n AS n_a, sb.n AS n_b,
                   CAST(s.n_shared AS DOUBLE) / least(sa.n, sb.n)
                     AS overlap
            FROM shared s
            JOIN sizes sa ON sa.host = s.host_a
            JOIN sizes sb ON sb.host = s.host_b
            ORDER BY s.host_a, s.host_b""",
        # same window (priority DESC, url ASC) + offset arithmetic;
        # h0-h2 have robots delays 5/10/15, the rest default to 10
        "crawl_politeness_slots": """
            WITH f AS (SELECT
                   'https://h' || (doc_id % 6) || '.example.org/u/'
                     || doc_id AS url,
                   'h' || (doc_id % 6) || '.example.org' AS host,
                   (doc_id * 13) % 50 AS priority,
                   CASE WHEN doc_id % 6 < 3
                        THEN 5 * (doc_id % 6 + 1)
                        ELSE 10 END AS crawl_delay
                   FROM documents),
            r AS (SELECT url, host, crawl_delay,
                   CAST(ROW_NUMBER() OVER (PARTITION BY host
                        ORDER BY priority DESC, url) AS BIGINT)
                     AS "rank"
                  FROM f)
            SELECT url, host, "rank",
                   CAST(("rank" - 1) * crawl_delay AS BIGINT)
                     AS fetch_offset_s
            FROM r ORDER BY host, "rank" """,
        # regexp_extract_all replay (RE2 and Java regex agree on
        # leftmost-first alternation + greedy captures here)
        "kg_reverb_triples": """
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
            ORDER BY url, pos""".replace("{RVB}", _reverb_pattern()),
        # cell counts -> long marginal products -> ONE division each
        # for po and pe, kappa NULL at the pe = 1 degenerate point
        "stats_cohens_kappa": """
            WITH p AS (SELECT
                   'l' || ((doc_id * 3 + 1) % 4) AS a,
                   CASE WHEN doc_id % 5 < 3
                        THEN 'l' || ((doc_id * 3 + 1) % 4)
                        ELSE 'l' || ((doc_id * 7) % 4) END AS b
                   FROM documents),
            cell AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
                     FROM p GROUP BY a, b),
            na AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na
                   FROM cell GROUP BY a),
            nb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS nb
                   FROM cell GROUP BY b),
            pes AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS s_pe
                    FROM na JOIN nb ON na.a = nb.b),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END)
                        AS BIGINT) AS n_agree
                   FROM cell)
            SELECT n, n_agree,
                   CAST(n_agree AS DOUBLE) / n AS po,
                   CAST(s_pe AS DOUBLE) / (n * n) AS pe,
                   CASE WHEN CAST(s_pe AS DOUBLE) / (n * n) < 1.0
                        THEN (CAST(n_agree AS DOUBLE) / n
                              - CAST(s_pe AS DOUBLE) / (n * n))
                             / (1.0 - CAST(s_pe AS DOUBLE) / (n * n))
                   END AS kappa
            FROM tot, pes""",
        # rank formula with LONG sums, two IEEE divisions, one
        # subtract — same operation order as the operator
        "stats_gini_domains": """
            WITH k AS (SELECT
                   CASE WHEN doc_id % 10 < 5 THEN 'big.example.org'
                        ELSE 'd' || (doc_id % 50) || '.example.org'
                   END AS k
                   FROM documents),
            cnt AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS x
                    FROM k GROUP BY k),
            rk AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, k)
                          AS BIGINT) AS i FROM cnt),
            agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                           CAST(SUM(x) AS BIGINT) AS total,
                           CAST(SUM(i * x) AS BIGINT) AS s1 FROM rk)
            SELECT n_keys, total,
                   (2.0 * s1) / (n_keys * total)
                   - (n_keys + 1) / CAST(n_keys AS DOUBLE) AS gini
            FROM agg""",
        "clean_mojibake": _mojibake_oracle(),
        # group on the stripped base URL, ORDER BY (page_no, text)
        # concatenation, contiguity flag
        "crawl_stitched_pages": """
            WITH p AS (SELECT doc_id, doc_id // 3 AS art,
                   doc_id % 3 + 1 AS page_no, 'P' || doc_id AS text
                   FROM documents
                   WHERE NOT ((doc_id // 3) % 5 = 0
                              AND doc_id % 3 = 1)),
            b AS (SELECT 'https://s' || (art % 4)
                         || '.example.org/art/' || art AS base_url,
                         page_no, text FROM p)
            SELECT base_url, CAST(COUNT(*) AS BIGINT) AS n_pages,
                   CAST(MIN(page_no) AS BIGINT) AS min_page,
                   CAST(MAX(page_no) AS BIGINT) AS max_page,
                   string_agg(text, chr(10)
                              ORDER BY page_no, text) AS full_text,
                   (MIN(page_no) <> 1
                    OR MAX(page_no) - MIN(page_no) + 1 <> COUNT(*))
                     AS has_gaps
            FROM b GROUP BY base_url ORDER BY base_url""",
        # closed form: %11 hits the host's planted error hash, %13
        # the not-found title
        "crawl_soft404": """
            WITH p AS (SELECT
                   'https://s' || (doc_id % 5) || '.example.org/p/'
                     || doc_id AS url,
                   's' || (doc_id % 5) || '.example.org' AS host,
                   doc_id % 11 = 0 AS hm,
                   doc_id % 13 = 0 AS tm
                   FROM documents)
            SELECT url, host,
                   CASE WHEN hm AND tm THEN 'both'
                        WHEN hm THEN 'error_template'
                        ELSE 'title' END AS reason
            FROM p WHERE hm OR tm ORDER BY url""",
        # distinct (entity, class) x distinct (entity, pred) joined on
        # the entity, one division per (class, pred) cell
        "kg_property_coverage": _ALL_TRIPLES_WITH + """,
            types AS (SELECT DISTINCT subj AS e, obj AS cls
                      FROM all_triples
                      WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
            nent AS (SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_entities
                     FROM types GROUP BY cls),
            sp AS (SELECT DISTINCT subj AS e, pred FROM all_triples
                   WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
            cov AS (SELECT t.cls, sp.pred,
                           CAST(COUNT(*) AS BIGINT) AS n_with
                    FROM sp JOIN types t USING (e)
                    GROUP BY t.cls, sp.pred)
            SELECT c.cls, c.pred, c.n_with, n.n_entities,
                   CAST(c.n_with AS DOUBLE) / n.n_entities AS coverage
            FROM cov c JOIN nent n USING (cls)
            ORDER BY cls, pred""",
        # raw per-domain sums, ONE global-mean division, one shrink
        # division — same operation order as the operator
        "stats_domain_quality_eb": """
            WITH s AS (SELECT
                   CASE WHEN doc_id % 10 < 3 THEN 'hot.example.org'
                        ELSE 'd' || (doc_id % 17) || '.example.org'
                   END AS domain,
                   CAST((doc_id * 53 + 7) % 256 AS DOUBLE) / 256.0
                     AS score
                   FROM documents),
            per AS (SELECT domain, SUM(score) AS s_d,
                           CAST(COUNT(*) AS BIGINT) AS n_docs
                    FROM s GROUP BY domain),
            g AS (SELECT SUM(score) AS g_s,
                         CAST(COUNT(*) AS BIGINT) AS g_n FROM s)
            SELECT domain, n_docs,
                   s_d / n_docs AS mean_score,
                   (s_d + 20.0 * (g_s / g_n)) / (n_docs + 20.0)
                     AS shrunk_score
            FROM per, g ORDER BY domain""",
        "text_rake_keyphrases": _rake_oracle(),
        # LEAD over the (ts, event_id) total order per user, then
        # row-normalized pair counts
        "events_transition_matrix": """
            WITH pr AS (SELECT event_type AS from_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type
                   FROM events),
            c AS (SELECT from_type, to_type,
                  CAST(COUNT(*) AS BIGINT) AS n
                  FROM pr WHERE to_type IS NOT NULL
                  GROUP BY from_type, to_type),
            t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
                  FROM c GROUP BY from_type)
            SELECT c.from_type, c.to_type, c.n, t.n_from,
                   CAST(c.n AS DOUBLE) / t.n_from AS p
            FROM c JOIN t USING (from_type)
            ORDER BY c.from_type, c.to_type""",
        # Hamilton largest-remainder: one-division quotas, floors,
        # fractional ranks (host ASC tie-break)
        "crawl_budget_allocation": """
            WITH h AS (SELECT 'h' || (doc_id % 23) || '.example.org'
                              AS host,
                       CAST(COUNT(*) AS BIGINT) AS weight
                       FROM documents GROUP BY 1),
            tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_total
                    FROM h),
            q AS (SELECT host, weight,
                  CAST(1000 * weight AS DOUBLE) / w_total AS quota
                  FROM h, tot),
            qb AS (SELECT host, weight, quota,
                   CAST(floor(quota) AS BIGINT) AS base FROM q),
            used AS (SELECT CAST(SUM(base) AS BIGINT) AS b_used
                     FROM qb),
            rk AS (SELECT qb.*, used.b_used,
                   CAST(ROW_NUMBER() OVER (ORDER BY quota - base DESC,
                        host) AS BIGINT) AS r
                   FROM qb, used)
            SELECT host, weight, quota, base,
                   CASE WHEN r <= 1000 - b_used
                        THEN CAST(1 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS extra,
                   base + CASE WHEN r <= 1000 - b_used THEN 1
                               ELSE 0 END AS allocation
            FROM rk ORDER BY host""",
        # bin shares from two one-division ratios; contrib NULL where
        # either side has no support
        "stats_psi_drift": """
            WITH e AS (SELECT least(CAST(floor(
                   (CAST((doc_id * 37 + 11) % 256 AS DOUBLE) / 256.0)
                   * 10) AS BIGINT), 9) AS bin FROM documents),
            a AS (SELECT least(CAST(floor(
                   (0.5 + CAST((doc_id * 91 + 5) % 128 AS DOUBLE)
                    / 256.0) * 10) AS BIGINT), 9) AS bin
                  FROM documents),
            eb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_expected
                   FROM e GROUP BY bin),
            ab AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_actual
                   FROM a GROUP BY bin),
            te AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_e FROM e),
            ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_a FROM a),
            j AS (SELECT COALESCE(eb.bin, ab.bin) AS bin,
                  COALESCE(n_expected, 0) AS n_expected,
                  COALESCE(n_actual, 0) AS n_actual
                  FROM eb FULL OUTER JOIN ab ON eb.bin = ab.bin),
            s AS (SELECT bin, n_expected, n_actual,
                  CAST(n_expected AS DOUBLE) / t_e AS p_expected,
                  CAST(n_actual AS DOUBLE) / t_a AS p_actual
                  FROM j, te, ta)
            SELECT bin, n_expected, n_actual, p_expected, p_actual,
                   CASE WHEN n_expected > 0 AND n_actual > 0
                        THEN (p_actual - p_expected)
                             * ln(p_actual / p_expected)
                   END AS contrib
            FROM s ORDER BY bin""",
        # distinct (s, o) pairs per predicate, two divisions
        "kg_pred_functionality": _ALL_TRIPLES_WITH + """,
            pairs AS (SELECT DISTINCT pred, subj, obj
                      FROM all_triples),
            agg AS (SELECT pred,
                    CAST(COUNT(*) AS BIGINT) AS n_pairs,
                    CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
                    CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj
                    FROM pairs GROUP BY pred)
            SELECT pred, n_pairs, n_subj, n_obj,
                   CAST(n_subj AS DOUBLE) / n_pairs AS functionality,
                   CAST(n_obj AS DOUBLE) / n_pairs
                     AS inverse_functionality
            FROM agg ORDER BY pred""",
        # distinct class assertions, inner subject join + left object
        # join (literals fold), vocabulary-sized group
        "kg_schema_graph": _ALL_TRIPLES_WITH + """,
            types AS (SELECT DISTINCT subj AS e, obj AS cls
                      FROM all_triples
                      WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
            rel AS (SELECT DISTINCT subj AS s, pred, obj AS o
                    FROM all_triples
                    WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
            SELECT st.cls AS subj_cls, rel.pred,
                   COALESCE(ot.cls, '<literal>') AS obj_cls,
                   CAST(COUNT(*) AS BIGINT) AS n_triples
            FROM rel
            JOIN types st ON st.e = rel.s
            LEFT JOIN types ot ON ot.e = rel.o
            GROUP BY st.cls, rel.pred, COALESCE(ot.cls, '<literal>')
            ORDER BY subj_cls, pred, obj_cls""",
        # component-expanded L1 scores over the closed-form integer
        # embeddings; rank = 1 + #better (entity-string tie-break)
        "kg_transe_eval": """
            WITH ids AS (SELECT DISTINCT doc_id % 50 AS i
                         FROM documents),
            test AS (SELECT DISTINCT doc_id % 50 AS hi,
                            doc_id % 3 AS rj,
                            (doc_id * 2 + 1) % 50 AS ti
                     FROM documents),
            t2 AS (SELECT hi, rj, ti,
                   hi % 7 + rj AS g1, hi % 11 + rj + 1 AS g2,
                   hi % 13 + 2 * rj AS g3, hi % 17 + 3 - rj AS g4
                   FROM test),
            sc AS (SELECT t2.*, c.i AS ci,
                   abs(c.i % 7 - g1) + abs(c.i % 11 - g2)
                     + abs(c.i % 13 - g3) + abs(c.i % 17 - g4)
                     AS cand_score,
                   abs(ti % 7 - g1) + abs(ti % 11 - g2)
                     + abs(ti % 13 - g3) + abs(ti % 17 - g4)
                     AS true_score
                   FROM t2, ids c),
            r AS (SELECT 'e' || hi AS subj, 'r' || rj AS pred,
                  'e' || ti AS obj,
                  CAST(MAX(true_score) AS BIGINT) AS true_score,
                  CAST(1 + SUM(CASE WHEN cand_score < true_score
                           OR (cand_score = true_score
                               AND 'e' || ci < 'e' || ti)
                           THEN 1 ELSE 0 END) AS BIGINT) AS "rank"
                  FROM sc GROUP BY hi, rj, ti)
            SELECT subj, pred, obj, true_score, "rank",
                   "rank" <= 10 AS hit_at_k,
                   1.0 / "rank" AS reciprocal_rank
            FROM r ORDER BY subj, pred, obj""",
        # pinned-whitespace token counts, integer buckets, one
        # padding division per bucket
        "train_length_buckets": """
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
            FROM agg ORDER BY bucket""",
        # planted parent_of/child_of/likes/knows KG; replay of the
        # distinct / flipped-join / marginal program
        "kg_inverse_rules": """
            WITH t AS (
              SELECT 'a' || doc_id AS subj, 'parent_of' AS pred,
                     'b' || doc_id AS obj FROM documents
              UNION ALL
              SELECT 'b' || doc_id, 'child_of', 'a' || doc_id
              FROM documents WHERE doc_id % 13 <> 0
              UNION ALL
              SELECT 'a' || doc_id, 'likes', 'b' || doc_id
              FROM documents WHERE doc_id % 4 = 0
              UNION ALL
              SELECT 'a' || doc_id, 'knows', 'b' || doc_id
              FROM documents WHERE doc_id % 6 = 0
              UNION ALL
              SELECT 'b' || doc_id, 'knows', 'a' || doc_id
              FROM documents WHERE doc_id % 6 = 0),
            dt AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o
                   FROM t),
            sup AS (SELECT f.p AS body_pred, r.p AS head_pred,
                    CAST(COUNT(*) AS BIGINT) AS support
                    FROM dt f JOIN dt r ON f.s = r.o AND f.o = r.s
                    WHERE f.p <> r.p
                    GROUP BY f.p, r.p),
            marg AS (SELECT p AS body_pred,
                     CAST(COUNT(*) AS BIGINT) AS n_body
                     FROM dt GROUP BY p)
            SELECT s.body_pred, s.head_pred, s.support, m.n_body,
                   CAST(s.support AS DOUBLE) / m.n_body AS confidence
            FROM sup s JOIN marg m USING (body_pred)
            ORDER BY body_pred, head_pred""",
        "search_rocchio": _rocchio_oracle(),
        # predicate-vote statistics over typed entities, fixed-point
        # weights, argmax window over untyped entities
        "kg_type_inference": """
            WITH t AS (
              SELECT 'p' || doc_id AS subj,
                     'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                       AS pred, 'Person' AS obj
              FROM documents WHERE doc_id % 3 <> 0
              UNION ALL
              SELECT 'o' || doc_id,
                     'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                     'Org'
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT 'p' || doc_id, 'works_at', 'o' || doc_id
              FROM documents
              UNION ALL
              SELECT 'p' || doc_id, 'born_in', 'x' || (doc_id % 9)
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'p' || doc_id, 'name', 'N' || doc_id
              FROM documents
              UNION ALL
              SELECT 'o' || doc_id, 'located_in', 'c' || (doc_id % 11)
              FROM documents
              UNION ALL
              SELECT 'o' || doc_id, 'name', 'M' || doc_id
              FROM documents),
            types AS (SELECT DISTINCT subj AS e, obj AS cls FROM t
                      WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
            sp AS (SELECT DISTINCT subj AS e, pred FROM t
                   WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
            pc AS (SELECT sp.pred, ty.cls,
                   CAST(COUNT(*) AS BIGINT) AS n_pc
                   FROM sp JOIN types ty USING (e)
                   GROUP BY sp.pred, ty.cls),
            pt AS (SELECT pred, CAST(SUM(n_pc) AS BIGINT) AS n_p
                   FROM pc GROUP BY pred),
            wts AS (SELECT pc.pred, pc.cls, n_pc * 1000000 // n_p AS w
                    FROM pc JOIN pt USING (pred)),
            unt AS (SELECT e, pred FROM sp
                    WHERE e NOT IN (SELECT e FROM types)),
            sc AS (SELECT unt.e, wts.cls,
                   CAST(SUM(w) AS BIGINT) AS score_micro,
                   CAST(COUNT(*) AS BIGINT) AS n_preds
                   FROM unt JOIN wts USING (pred)
                   GROUP BY unt.e, wts.cls),
            rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY e
                     ORDER BY score_micro DESC, cls) AS r FROM sc)
            SELECT e AS entity, cls AS inferred_cls, score_micro,
                   n_preds
            FROM rk WHERE r = 1 ORDER BY entity""",
        # microsecond lag gaps, DECIMAL(38,0) moments, cv2 replay
        "events_bot_signals": """
            WITH g AS (SELECT user_id,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS g
                   FROM events),
            b AS (SELECT user_id, g FROM g WHERE g IS NOT NULL),
            a AS (SELECT user_id,
                  CAST(COUNT(*) AS BIGINT) AS n_gaps,
                  SUM(CAST(g AS DECIMAL(38,0))) AS s1,
                  SUM(CAST(g AS DECIMAL(38,0))
                      * CAST(g AS DECIMAL(38,0))) AS s2,
                  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_gaps
                  FROM b GROUP BY user_id)
            SELECT user_id, n_gaps,
                   CAST(s1 AS DOUBLE) / n_gaps AS mean_gap_us,
                   CASE WHEN s1 > 0
                        THEN CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)
                             / CAST(s1 * s1 AS DOUBLE)
                   END AS cv2,
                   n_distinct_gaps
            FROM a WHERE n_gaps >= 4 ORDER BY user_id""",
        "crawl_rel_canonical": _rel_canonical_oracle(),
        # (host, lang) counts, majority window, purity division
        "clean_lang_outliers": """
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
            ORDER BY c.host, c.lang""",
        # PQ-ADC: replay the sampled-point codebooks, the per-
        # (vector, subspace) encoding argmin, and the query distance
        # table; every squared-distance fold is left-assoc t=1..4 and
        # rounded to 6 exactly like the Spark encoder
        "sim_pq_topk": """
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
            ORDER BY query_id, rank""",
        # Fellegi-Sunter: frequency-based u from the right side's
        # collision sums, fixed m, log2 likelihood-ratio weights
        "kg_fs_linkage": """
            WITH l AS (
              SELECT doc_id AS left_id,
                     'p' || ((doc_id * 7) % 101) AS block_key,
                     'p' || ((doc_id * 7) % 101) AS name,
                     1950 + (doc_id * 13) % 70 AS year,
                     'c' || (doc_id % 13) AS city
              FROM documents),
            r AS (
              SELECT doc_id + 1000000 AS right_id,
                     'p' || ((doc_id * 7) % 101) AS block_key,
                     'p' || ((doc_id * 7) % 101) AS name,
                     1950 + (doc_id * 13) % 70
                       + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                       AS year,
                     CASE WHEN doc_id % 7 = 0
                          THEN 'c' || ((doc_id + 1) % 13)
                          ELSE 'c' || (doc_id % 13) END AS city
              FROM documents),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM r),
            u AS (
              SELECT
                greatest(least((SELECT SUM(CAST(c AS DOUBLE) * c)
                                FROM (SELECT COUNT(*) AS c FROM r
                                      GROUP BY name)) / (nn.n * nn.n),
                               1.0 - 1e-9), 1e-9) AS u_name,
                greatest(least((SELECT SUM(CAST(c AS DOUBLE) * c)
                                FROM (SELECT COUNT(*) AS c FROM r
                                      GROUP BY year)) / (nn.n * nn.n),
                               1.0 - 1e-9), 1e-9) AS u_year,
                greatest(least((SELECT SUM(CAST(c AS DOUBLE) * c)
                                FROM (SELECT COUNT(*) AS c FROM r
                                      GROUP BY city)) / (nn.n * nn.n),
                               1.0 - 1e-9), 1e-9) AS u_city
              FROM nn),
            w AS (
              SELECT round(log2(0.95 / u_name), 6) AS wa_name,
                     round(log2(0.05 / (1.0 - u_name)), 6) AS wd_name,
                     round(log2(0.9 / u_year), 6) AS wa_year,
                     round(log2(0.1 / (1.0 - u_year)), 6) AS wd_year,
                     round(log2(0.85 / u_city), 6) AS wa_city,
                     round(log2(0.15 / (1.0 - u_city)), 6) AS wd_city
              FROM u),
            pairs AS (
              SELECT l.left_id, r.right_id,
                     l.name = r.name AS agree_name,
                     l.year = r.year AS agree_year,
                     l.city = r.city AS agree_city
              FROM l JOIN r USING (block_key)),
            sc AS (
              SELECT p.*,
                     round(0.0
                       + CASE WHEN agree_name THEN wa_name
                              ELSE wd_name END
                       + CASE WHEN agree_year THEN wa_year
                              ELSE wd_year END
                       + CASE WHEN agree_city THEN wa_city
                              ELSE wd_city END, 6) AS weight
              FROM pairs p CROSS JOIN w)
            SELECT left_id, right_id, agree_name, agree_year,
                   agree_city, weight,
                   CASE WHEN weight >= 4.0 THEN 'link'
                        WHEN weight > 0.0 THEN 'possible'
                        ELSE 'non_link' END AS decision
            FROM sc ORDER BY left_id, right_id""",
        # CUSUM: prefix-sum / prefix-extremum closed form of Page's
        # recursion, mu/sigma from exact integer sums
        "stats_cusum": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            st AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c,
                     SUM(n) AS s1, SUM(n * n) AS s2
              FROM daily GROUP BY 1),
            st2 AS (
              SELECT event_type,
                     CAST(s1 AS DOUBLE) / c AS mu,
                     sqrt(greatest(0.0,
                       CAST(c * s2 - s1 * s1 AS DOUBLE)
                       / CAST(c * c AS DOUBLE))) AS sigma
              FROM st),
            d AS (
              SELECT daily.event_type, day, n, mu, sigma,
                     sigma * 4.0 AS h,
                     n - mu - sigma * 0.5 AS dev_p,
                     n - mu + sigma * 0.5 AS dev_n
              FROM daily JOIN st2 USING (event_type)),
            staged AS (
              SELECT event_type, day, n, h,
                     SUM(dev_p) OVER (PARTITION BY event_type
                       ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_pos,
                     SUM(dev_n) OVER (PARTITION BY event_type
                       ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_neg
              FROM d),
            fin AS (
              SELECT event_type, day, n, h,
                     p_pos - least(0.0, MIN(p_pos) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING)) AS s_pos,
                     greatest(0.0, MAX(p_neg) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING)) - p_neg AS s_neg
              FROM staged)
            SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
                   round(s_pos, 6) AS cusum_pos,
                   round(s_neg, 6) AS cusum_neg,
                   s_pos > h AS alarm_up,
                   s_neg > h AS alarm_down
            FROM fin ORDER BY event_type, day""",
        # Zipf: token counts -> rank window -> ln-ln moment-sum OLS
        "text_zipf_fit": r"""
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
                round((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n_fit AS DOUBLE) * sxx - sx * sx), 6)
                  AS slope,
                round((sy - ((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                             / (CAST(n_fit AS DOUBLE) * sxx - sx * sx))
                            * sx) / CAST(n_fit AS DOUBLE), 6)
                  AS intercept,
                round(((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                       * (CAST(n_fit AS DOUBLE) * sxy - sx * sy))
                      / ((CAST(n_fit AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n_fit AS DOUBLE) * syy - sy * sy)), 6)
                  AS r2
              FROM agg)
            SELECT f.lang, f.n_fit, f.slope, f.intercept, f.r2,
                   t.tok AS top_token
            FROM fit f JOIN rk t ON t.lang = f.lang AND t.rank = 1
            ORDER BY f.lang""",
        # Heaps: first-occurrence doc aggregation -> cumulative
        # series -> ln-ln moment-sum OLS
        "text_heaps_law": r"""
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
                round((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n_fit AS DOUBLE) * sxx - sx * sx), 6)
                  AS slope,
                round((sy - ((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                             / (CAST(n_fit AS DOUBLE) * sxx - sx * sx))
                            * sx) / CAST(n_fit AS DOUBLE), 6)
                  AS intercept,
                round(((CAST(n_fit AS DOUBLE) * sxy - sx * sy)
                       * (CAST(n_fit AS DOUBLE) * sxy - sx * sy))
                      / ((CAST(n_fit AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n_fit AS DOUBLE) * syy - sy * sy)), 6)
                  AS r2
              FROM agg),
            nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM per_doc GROUP BY source)
            SELECT f.source, f.n_fit, f.slope, f.intercept, f.r2,
                   nd.n_docs
            FROM fit f JOIN nd USING (source)
            ORDER BY f.source""",
        # KS: merged ECDF over distinct-value counts; D kept as an
        # integer cross-product until one final division; 20-term
        # Kolmogorov series for the p-value
        "stats_ks_lengths": """
            WITH tagged AS (
              SELECT n_chars AS v,
                     CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0
                              END) AS BIGINT) AS c_a,
                     CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0
                              END) AS BIGINT) AS c_b
              FROM documents WHERE source IN ('src0', 'src1')
              GROUP BY 1),
            cdf AS (
              SELECT SUM(c_a) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum_a,
                     SUM(c_b) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum_b
              FROM tagged),
            tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                           CAST(SUM(c_b) AS BIGINT) AS n_b
                    FROM tagged),
            dmax AS (
              SELECT MAX(ABS(cum_a * n_b - cum_b * n_a)) AS d_num,
                     MAX(n_a) AS n_a, MAX(n_b) AS n_b
              FROM cdf CROSS JOIN tot),
            lamt AS (
              SELECT n_a, n_b,
                     CAST(d_num AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) * n_b) AS d,
                     (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
                      + 0.12
                      + 0.11 / sqrt(CAST(n_a AS DOUBLE) * n_b
                                    / (n_a + n_b)))
                     * (CAST(d_num AS DOUBLE)
                        / (CAST(n_a AS DOUBLE) * n_b)) AS lam
              FROM dmax),
            ps AS (
              SELECT n_a, n_b, d, lam,
                     SUM((CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                         * exp(-2.0 * k * k * lam * lam)) AS s
              FROM lamt CROSS JOIN (SELECT CAST(range AS BIGINT) AS k
                                    FROM range(1, 21))
              GROUP BY 1, 2, 3, 4)
            SELECT n_a, n_b, round(d, 6) AS ks_stat,
                   round(lam, 6) AS ks_lambda,
                   CASE WHEN lam < 0.2 THEN 1.0
                        ELSE round(greatest(0.0,
                                            least(1.0, 2.0 * s)), 6)
                   END AS p_value
            FROM ps""",
        # MWU: midrank blocks over distinct-value counts; 2*R_a stays
        # an exact BIGINT (c_a * (2*cum_before + t + 1))
        "stats_mann_whitney": """
            WITH tagged AS (
              SELECT value AS v,
                     CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                              ELSE 0 END) AS BIGINT) AS c_a,
                     CAST(SUM(CASE WHEN event_type = 'view' THEN 1
                              ELSE 0 END) AS BIGINT) AS c_b
              FROM events WHERE event_type IN ('click', 'view')
              GROUP BY 1),
            blocks AS (
              SELECT c_a, c_b, c_a + c_b AS t,
                     COALESCE(SUM(c_a + c_b) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before
              FROM tagged),
            agg AS (
              SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                     CAST(SUM(c_b) AS BIGINT) AS n_b,
                     SUM(c_a * (2 * cum_before + t + 1)) AS r2_a,
                     SUM(t * t * t - t) AS tie_sum
              FROM blocks)
            SELECT n_a, n_b,
                   round(CAST(r2_a AS DOUBLE) / 2.0
                         - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0, 6)
                     AS u_a,
                   round(CAST(r2_a AS DOUBLE) / 2.0, 6) AS r_a,
                   CASE WHEN CAST(n_a AS DOUBLE) * n_b / 12.0
                             * ((n_a + n_b + 1.0)
                                - CAST(tie_sum AS DOUBLE)
                                  / ((n_a + n_b)
                                     * (n_a + n_b - 1.0))) > 0
                   THEN round((CAST(r2_a AS DOUBLE) / 2.0
                          - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0
                          - CAST(n_a AS DOUBLE) * n_b / 2.0)
                         / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                                * ((n_a + n_b + 1.0)
                                   - CAST(tie_sum AS DOUBLE)
                                     / ((n_a + n_b)
                                        * (n_a + n_b - 1.0)))), 6)
                   END AS z
            FROM agg""",
        # ACF: calendar-day self-joins of the per-type daily series;
        # Pearson over exact integer moment sums
        "stats_acf_daily": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            ks AS (SELECT CAST(range AS INTEGER) AS lag
                   FROM range(1, 8)),
            pairs AS (
              SELECT a.event_type, ks.lag, a.n AS x, b.n AS y
              FROM daily a CROSS JOIN ks
              JOIN daily b ON b.event_type = a.event_type
                          AND b.day = a.day + ks.lag),
            agg AS (
              SELECT event_type, lag,
                     CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                     SUM(x * x) AS sxx, SUM(y * y) AS syy
              FROM pairs GROUP BY 1, 2)
            SELECT event_type, lag, n_pairs,
                   CASE WHEN sqrt(CAST(n_pairs * sxx - sx * sx
                                       AS DOUBLE)
                                  * CAST(n_pairs * syy - sy * sy
                                         AS DOUBLE)) > 0
                        THEN round(CAST(n_pairs * sxy - sx * sy
                                        AS DOUBLE)
                          / sqrt(CAST(n_pairs * sxx - sx * sx
                                      AS DOUBLE)
                                 * CAST(n_pairs * syy - sy * sy
                                        AS DOUBLE)), 6)
                   END AS r
            FROM agg ORDER BY event_type, lag""",
        # Theil-Sen: O(days^2) pair join on the daily aggregate,
        # slopes rounded BEFORE the rank-picked exact median
        "stats_theil_sen": """
            WITH daily AS (
              SELECT event_type,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                          AS BIGINT) AS d,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY event_type, CAST(ts AS DATE)),
            pairs AS (
              SELECT a.event_type,
                     CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope
              FROM daily a JOIN daily b
                ON b.event_type = a.event_type AND b.d > a.d),
            ms AS (
              SELECT event_type, AVG(slope) AS sen_slope,
                     CAST(MAX(_c) AS BIGINT) AS n_pairs
              FROM (SELECT event_type, slope,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY slope) AS _r,
                           COUNT(*) OVER (PARTITION BY event_type)
                             AS _c
                    FROM pairs) t
              WHERE _r = CAST(floor((_c + 1) / 2.0) AS BIGINT)
                 OR _r = CAST(ceil((_c + 1) / 2.0) AS BIGINT)
              GROUP BY 1),
            md AS (
              SELECT event_type, AVG(dv) AS med_d,
                     CAST(MAX(_c) AS BIGINT) AS n_days
              FROM (SELECT event_type, CAST(d AS DOUBLE) AS dv,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY CAST(d AS DOUBLE)) AS _r,
                           COUNT(*) OVER (PARTITION BY event_type)
                             AS _c
                    FROM daily) t
              WHERE _r = CAST(floor((_c + 1) / 2.0) AS BIGINT)
                 OR _r = CAST(ceil((_c + 1) / 2.0) AS BIGINT)
              GROUP BY 1),
            mn AS (
              SELECT event_type, AVG(nv) AS med_n
              FROM (SELECT event_type, CAST(n AS DOUBLE) AS nv,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY CAST(n AS DOUBLE)) AS _r,
                           COUNT(*) OVER (PARTITION BY event_type)
                             AS _c
                    FROM daily) t
              WHERE _r = CAST(floor((_c + 1) / 2.0) AS BIGINT)
                 OR _r = CAST(ceil((_c + 1) / 2.0) AS BIGINT)
              GROUP BY 1)
            SELECT ms.event_type, md.n_days, ms.n_pairs,
                   CAST(floor(ms.sen_slope * 1000000) AS BIGINT)
                     AS sen_slope_micro,
                   CAST(floor((mn.med_n - ms.sen_slope * md.med_d)
                              * 1000000) AS BIGINT)
                     AS intercept_micro
            FROM ms JOIN md USING (event_type)
                    JOIN mn USING (event_type)
            ORDER BY ms.event_type""",
        # modularity of the 4-round label-prop partition: unrolled
        # rounds, then exact-integer e_c / D_c / m counters
        "kg_modularity": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            e0 AS (
              SELECT b AS u, b + 1 AS v FROM blk
              UNION ALL SELECT b + 1, b + 2 FROM blk
              UNION ALL SELECT b, b + 2 FROM blk
              UNION ALL SELECT b + 2, b + 5 FROM blk
              UNION ALL SELECT b + 5, b + 6 FROM blk
              UNION ALL SELECT b + 6, b + 7 FROM blk
              UNION ALL SELECT b + 5, b + 7 FROM blk),
            und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
            l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
            c1 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l0 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l1 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c1) t WHERE c = mx GROUP BY node),
            c2 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l1 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l2 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c2) t WHERE c = mx GROUP BY node),
            c3 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l2 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l3 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c3) t WHERE c = mx GROUP BY node),
            c4 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
                   FROM und JOIN l3 l ON und.v = l.node
                   GROUP BY und.u, l.lbl),
            l4 AS (SELECT node, MIN(lbl) AS lbl FROM
                    (SELECT node, lbl, c,
                            MAX(c) OVER (PARTITION BY node) AS mx
                     FROM c4) t WHERE c = mx GROUP BY node),
            und2 AS (SELECT DISTINCT least(u, v) AS u,
                            greatest(u, v) AS v
                     FROM e0 WHERE u <> v),
            mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und2),
            deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
                    (SELECT u AS n FROM und2
                     UNION ALL SELECT v FROM und2) GROUP BY 1),
            dc AS (SELECT l4.lbl AS community,
                          CAST(COUNT(*) AS BIGINT) AS n_nodes,
                          CAST(SUM(deg.d) AS BIGINT) AS deg_sum
                   FROM deg JOIN l4 ON l4.node = deg.n GROUP BY 1),
            ec AS (SELECT a.lbl AS community,
                          CAST(COUNT(*) AS BIGINT) AS e_intra
                   FROM und2 JOIN l4 a ON a.node = und2.u
                             JOIN l4 b ON b.node = und2.v
                   WHERE a.lbl = b.lbl GROUP BY 1)
            SELECT dc.community, dc.n_nodes, dc.deg_sum,
                   CAST(COALESCE(ec.e_intra, 0) AS BIGINT) AS e_intra,
                   round(CAST(COALESCE(ec.e_intra, 0) AS DOUBLE)
                           / mm.m
                         - (CAST(dc.deg_sum AS DOUBLE)
                            / (2.0 * mm.m))
                           * (CAST(dc.deg_sum AS DOUBLE)
                              / (2.0 * mm.m)), 6) AS q_contrib
            FROM dc LEFT JOIN ec USING (community) CROSS JOIN mm
            ORDER BY dc.community""",
        # TextRank: window-2 weighted co-occurrence graph, 3 unrolled
        # weighted-PageRank rounds with per-round 9-decimal rounding
        "text_textrank": r"""
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
            WHERE rank <= 10 ORDER BY lang, rank""",
        # 1-WL: degree init, 3 unrolled md5(own|sorted-neighbors)
        # rounds over the planted triangle+chain+edge blocks
        "kg_wl_colors": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            e0 AS (
              SELECT b AS u, b + 1 AS v FROM blk
              UNION ALL SELECT b + 1, b + 2 FROM blk
              UNION ALL SELECT b, b + 2 FROM blk
              UNION ALL SELECT b + 2, b + 3 FROM blk
              UNION ALL SELECT b + 3, b + 4 FROM blk
              UNION ALL SELECT b + 4, b + 5 FROM blk
              UNION ALL SELECT b + 6, b + 7 FROM blk),
            und AS (SELECT DISTINCT least(u, v) AS u,
                           greatest(u, v) AS v
                    FROM e0 WHERE u <> v),
            sym AS (SELECT u AS a, v AS b FROM und
                    UNION ALL SELECT v, u FROM und),
            c0 AS (SELECT a AS node, CAST(COUNT(*) AS VARCHAR) AS c
                   FROM sym GROUP BY 1),
            n1 AS (SELECT sym.a AS node,
                          array_to_string(list_sort(list(c0.c)), ',')
                            AS ns
                   FROM sym JOIN c0 ON c0.node = sym.b GROUP BY 1),
            c1 AS (SELECT c0.node, md5(c0.c || '|' || n1.ns) AS c
                   FROM c0 JOIN n1 USING (node)),
            n2 AS (SELECT sym.a AS node,
                          array_to_string(list_sort(list(c1.c)), ',')
                            AS ns
                   FROM sym JOIN c1 ON c1.node = sym.b GROUP BY 1),
            c2 AS (SELECT c1.node, md5(c1.c || '|' || n2.ns) AS c
                   FROM c1 JOIN n2 USING (node)),
            n3 AS (SELECT sym.a AS node,
                          array_to_string(list_sort(list(c2.c)), ',')
                            AS ns
                   FROM sym JOIN c2 ON c2.node = sym.b GROUP BY 1),
            c3 AS (SELECT c2.node, md5(c2.c || '|' || n3.ns) AS c
                   FROM c2 JOIN n3 USING (node))
            SELECT node, c AS wl_color FROM c3 ORDER BY node""",
        # chi2 from observed cells only: N * (sum O^2/(R*C) - 1),
        # integer marginals, t rounded at 12 before the -1
        "stats_chi2_lang_source": """
            WITH cells AS (
              SELECT lang AS a, source AS b,
                     CAST(COUNT(*) AS BIGINT) AS o
              FROM documents GROUP BY 1, 2),
            ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra
                   FROM cells GROUP BY 1),
            cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb
                   FROM cells GROUP BY 1),
            j AS (SELECT o, CAST(o AS DOUBLE) * o
                            / (CAST(ra AS DOUBLE) * cb) AS term
                  FROM cells JOIN ra USING (a) JOIN cb USING (b)),
            agg AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                           CAST(COUNT(*) AS BIGINT) AS n_cells,
                           SUM(term) AS t
                    FROM j),
            dims AS (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
                            CAST(COUNT(DISTINCT b) AS BIGINT) AS nc
                     FROM cells)
            SELECT n, nr AS n_rows, nc AS n_cols,
                   (nr - 1) * (nc - 1) AS dof,
                   round(CAST(n AS DOUBLE)
                         * (round(t, 12) - 1.0), 6) AS chi2,
                   round(sqrt(greatest(0.0,
                         CAST(n AS DOUBLE) * (round(t, 12) - 1.0)
                         / (CAST(n AS DOUBLE)
                            * least(nr - 1, nc - 1)))), 6)
                     AS cramers_v
            FROM agg CROSS JOIN dims""",
        # Brandes betweenness: closed-form truth of the planted block
        # (triangle 0-1-2, chain 2-3-4-5, isolated edge 6-7) — the
        # bridge corners carry 6 pair dependencies, the chain link 4
        "kg_betweenness": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            truth(o, val) AS (VALUES
              (0, 0.0), (1, 0.0), (2, 6.0), (3, 6.0),
              (4, 4.0), (5, 0.0), (6, 0.0), (7, 0.0))
            SELECT blk.b + truth.o AS node, truth.val AS betweenness
            FROM blk CROSS JOIN truth
            ORDER BY node""",
        # MaxSim: md5-derived token vectors as (tok, k, c) rows;
        # cosines on the vocabulary, max per (doc, query token), sum
        "sim_maxsim_topk": r"""
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
            WHERE rank <= 20 ORDER BY rank""",
        # 3-truss closed form: only the planted triangle's edges
        # survive support peeling, each with support 1
        "kg_ktruss": """
            WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
            truth(i, j, s) AS (VALUES (0, 1, 1), (0, 2, 1), (1, 2, 1))
            SELECT blk.b + truth.i AS node_a,
                   blk.b + truth.j AS node_b,
                   CAST(truth.s AS BIGINT) AS support
            FROM blk CROSS JOIN truth
            ORDER BY node_a, node_b""",
        # JSD: tagged token counts, termwise p/2*lg(p/m) + q/2*lg(q/m)
        "text_js_divergence": r"""
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
            FROM terms""",
        # Yule's K: exact S1/S2 long sums per language
        "text_yules_k": r"""
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
            FROM agg ORDER BY lang""",
        # Benford: arithmetic first-digit extraction, 9-group agg,
        # absent digits kept via the digit dimension
        "stats_benford": """
            WITH got AS (
              SELECT CAST(floor(value / pow(10.0, floor(log10(value))))
                          AS INTEGER) AS digit,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE value > 0 GROUP BY 1),
            digits AS (SELECT CAST(range AS INTEGER) AS digit
                       FROM range(1, 10)),
            tot AS (SELECT SUM(n) AS tot FROM got),
            fil AS (SELECT digits.digit,
                           CAST(COALESCE(got.n, 0) AS BIGINT) AS n
                    FROM digits LEFT JOIN got USING (digit))
            SELECT digit, n,
                   round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)
                     AS frac,
                   round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
                   round(abs(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
                             - log10(1.0 + 1.0 / digit)), 6) AS diff
            FROM fil CROSS JOIN tot ORDER BY digit""",
        # Poisson bootstrap: md5-seeded inverse-CDF Poisson(1)
        # weights, exact cents sums, rank-picked 2.5/97.5 percentiles
        "stats_bootstrap_mean": """
            WITH base AS (
              SELECT CAST(event_id AS VARCHAR) AS rid,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
            obs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(cents) AS s FROM base),
            reps AS (SELECT CAST(range AS INTEGER) AS b
                     FROM range(1, 101)),
            weighted AS (
              SELECT b,
                     CASE
                       WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1
                       WHEN h < 919698 THEN 2 WHEN h < 981011 THEN 3
                       WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
                       WHEN h < 999917 THEN 6 ELSE 7 END AS w,
                     cents
              FROM (SELECT b, cents,
                           CAST(('0x' || substr(md5(rid || ':' || b),
                                                1, 8)) AS BIGINT)
                           % 1000000 AS h
                    FROM base CROSS JOIN reps)),
            boot AS (
              SELECT b, CAST(SUM(w) AS BIGINT) AS nw,
                     SUM(w * cents) AS sw
              FROM weighted GROUP BY b),
            means AS (
              SELECT b, CAST(sw AS DOUBLE)
                        / (CAST(nw AS DOUBLE) * 100) AS m
              FROM boot),
            ranked AS (
              SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r
              FROM means),
            ci AS (
              SELECT MIN(CASE WHEN r = 3 THEN m END) AS ci_lo,
                     MIN(CASE WHEN r = 98 THEN m END) AS ci_hi
              FROM ranked WHERE r IN (3, 98))
            SELECT n,
                   round(CAST(s AS DOUBLE)
                         / (CAST(n AS DOUBLE) * 100), 6) AS mean,
                   round(ci_lo, 6) AS ci_lo,
                   round(ci_hi, 6) AS ci_hi,
                   CAST(100 AS BIGINT) AS n_boot
            FROM obs CROSS JOIN ci""",
        # near-dup leakage across the md5 split: recursive reach over
        # the LSH pair graph + the split CTE, train count per cluster
        "train_leakage_check": "WITH RECURSIVE " + _MINHASH_CTE + """,
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
            ORDER BY m.doc_id""",
        # Kaplan-Meier over time-to-first-purchase: truncated-epoch
        # hours (floor(epoch) mirrors Spark unix_timestamp), 72 h
        # administrative censoring, suffix-window at-risk, exp-sum-log
        # product limit with the d=n neutral-factor guard
        "stats_kaplan_meier": """
            WITH f AS (
              SELECT user_id,
                     CAST(floor(epoch(min(ts))) AS BIGINT) AS f0
              FROM events GROUP BY user_id),
            p AS (
              SELECT user_id,
                     CAST(floor(epoch(min(ts))) AS BIGINT) AS p0
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id),
            subj AS (
              SELECT CASE WHEN th IS NULL OR th > 72
                          THEN CAST(72 AS BIGINT) ELSE th END AS t,
                     (th IS NULL OR th > 72) AS censored
              FROM (SELECT CAST(floor((p0 - f0) / 3600.0) AS BIGINT)
                             AS th
                    FROM f LEFT JOIN p USING (user_id))),
            per_t AS (
              SELECT t, CAST(COUNT(*) AS BIGINT) AS n_ending,
                     CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_deaths
              FROM subj GROUP BY t),
            ar AS (
              SELECT t, n_ending, n_deaths,
                     CAST(SUM(n_ending) OVER (ORDER BY t
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
              FROM per_t),
            d AS (SELECT * FROM ar WHERE n_deaths > 0),
            s AS (
              SELECT t, n_risk, n_deaths,
                     MAX(CASE WHEN n_deaths = n_risk THEN 1 ELSE 0 END)
                       OVER w AS zero,
                     SUM(ln(CASE WHEN n_deaths = n_risk THEN 1.0
                            ELSE 1.0 - CAST(n_deaths AS DOUBLE) / n_risk
                            END)) OVER w AS ls
              FROM d
              WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW))
            SELECT t, n_risk, n_deaths,
                   round(CASE WHEN zero = 1 THEN 0.0 ELSE exp(ls) END, 6)
                     AS survival
            FROM s ORDER BY t""",
        # contiguous trigram mining: the same lead window + aggregates
        "events_sequence_mining": """
            WITH g AS (
              SELECT user_id,
                     event_type AS step_1,
                     lead(event_type, 1) OVER w AS step_2,
                     lead(event_type, 2) OVER w AS step_3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT step_1, step_2, step_3,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM g WHERE step_3 IS NOT NULL
            GROUP BY 1, 2, 3
            HAVING COUNT(*) >= 2
            ORDER BY step_1, step_2, step_3""",
        # compaction: preceding-small-bytes window + floor division
        "store_compaction_plan": """
            WITH files AS (
              SELECT source, doc_id AS file_id,
                     n_chars AS size_bytes,
                     n_chars < 400 AS small
              FROM documents),
            c AS (
              SELECT source, file_id, size_bytes, small,
                     COALESCE(SUM(CASE WHEN small THEN size_bytes
                                  ELSE 0 END) OVER (
                       PARTITION BY source ORDER BY file_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prev_small
              FROM files)
            SELECT source, file_id,
                   CAST(size_bytes AS BIGINT) AS size_bytes,
                   CASE WHEN small THEN 'rewrite' ELSE 'keep' END
                     AS action,
                   CAST(CASE WHEN small THEN prev_small // 1000
                        ELSE -1 END AS BIGINT) AS bin
            FROM c ORDER BY source, file_id""",
        # Dunning LLR: exact long contingency cells, per-row xlx
        # expression rounded to 6 BEFORE the ranked top-100 cut
        "text_llr_collocations": "WITH " + _TOKS_CTE + r""",
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
            FROM ranked WHERE rank <= 100 ORDER BY rank""",
        # harmonic centrality on the closed-form citation graph:
        # d(s, n) = ceil((n-s)/2) = (n-s+1) // 2 for 1 <= n-s <= 6
        "kg_harmonic_centrality": """
            WITH seeds AS (
              SELECT doc_id AS s FROM documents WHERE doc_id % 100 = 0),
            nodes AS (
              SELECT DISTINCT n FROM (
                SELECT doc_id AS n FROM documents
                UNION SELECT doc_id + 1 FROM documents
                UNION SELECT doc_id + 2 FROM documents)),
            r AS (
              SELECT n, (n - s + 1) // 2 AS d
              FROM nodes JOIN seeds ON n - s BETWEEN 1 AND 6)
            SELECT CAST(n AS BIGINT) AS node,
                   CAST(COUNT(*) AS BIGINT) AS n_seeds_reaching,
                   round(SUM(1.0 / d), 6) AS harmonic
            FROM r GROUP BY n ORDER BY node""",
        "kg_clustering_coeff": """
            WITH raw AS (
              SELECT 'e' || (doc_id % 50) AS x, 't' || (doc_id % 11) AS y
              FROM documents
              UNION ALL
              SELECT 't' || (doc_id % 11), 'p' || (doc_id % 7)
              FROM documents
              UNION ALL
              SELECT 'e' || (doc_id % 50), 'p' || (doc_id % 7)
              FROM documents),
            e AS (
              SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
              FROM raw WHERE x <> y),
            adj AS (SELECT a AS u, b AS v FROM e
                    UNION ALL SELECT b, a FROM e),
            deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
                    FROM adj GROUP BY u),
            tri AS (
              SELECT a1.u AS node
              FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
              JOIN e ON e.a = a1.v AND e.b = a2.v),
            tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t
                   FROM tri GROUP BY node)
            SELECT deg.node, deg.degree,
                   COALESCE(tc.t, 0) AS triangles,
                   CAST(CASE WHEN deg.degree > 1
                        THEN 2000 * COALESCE(tc.t, 0)
                             // (deg.degree * (deg.degree - 1))
                        ELSE 0 END AS BIGINT) AS coeff_permille
            FROM deg LEFT JOIN tc USING (node)
            ORDER BY node""",
        # closed-form planted trap shapes: depth/dups/calendar/params
        # are functions of doc_id % 4 alone
        "crawl_trap_detection": """
            WITH shapes AS (
              SELECT doc_id, doc_id % 4 AS s,
                     CASE doc_id % 4
                       WHEN 0 THEN 'https://example.org/docs/' || source
                                   || '/' || doc_id
                       WHEN 1 THEN 'https://example.org/a/b/a/b/a/b/c/item'
                                   || doc_id
                       WHEN 2 THEN 'https://example.org/archive/2020/'
                                   || (1 + doc_id % 12) || '/'
                                   || (13 + doc_id % 16) || '/item'
                                   || doc_id
                       ELSE 'https://example.org/docs/' || source || '/'
                            || doc_id
                            || '?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8='
                            || doc_id
                     END AS url
              FROM documents),
            sig AS (
              SELECT url,
                     CAST(CASE s WHEN 0 THEN 3 WHEN 1 THEN 8
                          WHEN 2 THEN 5 ELSE 3 END AS BIGINT)
                       AS path_depth,
                     CAST(CASE s WHEN 1 THEN 4 ELSE 0 END AS BIGINT)
                       AS dup_segments,
                     CAST(CASE s WHEN 2 THEN 1 ELSE 0 END AS BIGINT)
                       AS has_calendar,
                     CAST(CASE s WHEN 3 THEN 8 ELSE 0 END AS BIGINT)
                       AS n_params
              FROM shapes),
            scored AS (
              SELECT *,
                     2 * GREATEST(path_depth - 6, 0) + 3 * dup_segments
                     + 2 * has_calendar + GREATEST(n_params - 3, 0)
                       AS trap_score
              FROM sig)
            SELECT url, path_depth, dup_segments, has_calendar,
                   n_params, CAST(trap_score AS BIGINT) AS trap_score,
                   CAST(CASE WHEN trap_score >= 4 THEN 1 ELSE 0 END
                        AS BIGINT) AS is_trap
            FROM scored ORDER BY url""",
        "text_ngram_novelty": r"""
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
            GROUP BY g.doc_id ORDER BY g.doc_id""",
        "events_sliding_distinct": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
              FROM events),
            days AS (SELECT DISTINCT d FROM ud)
            SELECT strftime(days.d, '%Y-%m-%d') AS day,
                   CAST(COUNT(DISTINCT CASE WHEN ud.d = days.d
                              THEN ud.u END) AS BIGINT) AS n_active_1d,
                   CAST(COUNT(DISTINCT ud.u) AS BIGINT) AS n_active_7d
            FROM days JOIN ud
              ON ud.d BETWEEN days.d - 6 AND days.d
            GROUP BY days.d ORDER BY day""",
        "search_phrase": r"""
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
            FROM hits GROUP BY doc_id ORDER BY doc_id""",
        "search_fuzzy": r"""
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
            FROM ranked WHERE rn = 1 ORDER BY query""",
        "kg_h_index": "WITH " + _F_CTE + ", " + _MENTION_TRIPLES + r""",
            cc AS (SELECT obj, CAST(COUNT(*) AS BIGINT) AS score
                   FROM mention_triples GROUP BY obj),
            g AS (SELECT 'series' ||
                         (CAST(regexp_extract(obj, 'rfc/(\d+)', 1)
                               AS BIGINT) % 10) AS series, score
                  FROM cc),
            ranked AS (
              SELECT series, score,
                     row_number() OVER (PARTITION BY series
                                        ORDER BY score DESC) AS rank
              FROM g)
            SELECT series,
                   CAST(MAX(LEAST(rank, score)) AS BIGINT) AS h_index,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(MAX(score) AS BIGINT) AS max_score
            FROM ranked GROUP BY series ORDER BY series""",
        "kg_reciprocity": """
            WITH raw AS (
              SELECT 'e' || (doc_id % 50) AS src,
                     'e' || ((doc_id * 3 + 1) % 50) AS dst
              FROM documents
              UNION ALL
              SELECT 'e' || (doc_id % 50),
                     'e' || ((doc_id * 7 + 3) % 50)
              FROM documents),
            e AS (SELECT DISTINCT src AS a, dst AS b FROM raw
                  WHERE src <> dst),
            j AS (
              SELECT e.a, e.b,
                     CASE WHEN r.a IS NULL THEN 0 ELSE 1 END AS rec
              FROM e LEFT JOIN e r ON r.a = e.b AND r.b = e.a)
            SELECT a AS node,
                   CAST(COUNT(*) AS BIGINT) AS n_out,
                   CAST(SUM(rec) AS BIGINT) AS n_reciprocated,
                   CAST(1000 * SUM(rec) // COUNT(*) AS BIGINT)
                     AS reciprocity_permille
            FROM j GROUP BY a ORDER BY node""",
        # replays the 3 first-degree-hash rounds: contribution
        # format 's|pred|label' / 'o|pred|label', labels blinded to
        # '_:' at round 0, md5 over the newline-joined sorted
        # multiset each round — identical to bnode_canonicalize
        "kg_bnode_canonical": """
            WITH base AS (
              SELECT doc_id,
                     'https://example.org/res/doc/' || doc_id AS g,
                     '_:x' || ((doc_id * 7) % 991) AS b_x,
                     '_:y' || ((doc_id * 13) % 997) AS b_y,
                     '_:z' || ((doc_id * 3) % 983) AS b_z
              FROM documents),
            quads AS (
              SELECT g, g AS s, 'ex:author' AS p, b_x AS o FROM base
              UNION ALL SELECT g, b_x, 'ex:name',
                     '"Author ' || (doc_id % 13) || '"' FROM base
              UNION ALL SELECT g, b_x, 'ex:affiliation', b_y FROM base
              UNION ALL SELECT g, b_y, 'ex:name',
                     '"Org ' || (doc_id % 7) || '"' FROM base
              UNION ALL SELECT g, b_z, 'ex:memberOf', b_y FROM base
              UNION ALL SELECT g, b_z, 'ex:name',
                     '"Member ' || (doc_id % 5) || '"' FROM base),
            bn AS (
              SELECT DISTINCT g, s AS b FROM quads
              WHERE starts_with(s, '_:')
              UNION
              SELECT DISTINCT g, o FROM quads
              WHERE starts_with(o, '_:')),
            l0 AS (SELECT g, b, '_:' AS lbl FROM bn),
            c1 AS (
              SELECT q.g, q.s AS b,
                     's|' || q.p || '|' || COALESCE(lo.lbl, q.o) AS c
              FROM quads q LEFT JOIN l0 lo
                ON lo.g = q.g AND lo.b = q.o
              WHERE starts_with(q.s, '_:')
              UNION ALL
              SELECT q.g, q.o,
                     'o|' || q.p || '|' || COALESCE(ls.lbl, q.s)
              FROM quads q LEFT JOIN l0 ls
                ON ls.g = q.g AND ls.b = q.s
              WHERE starts_with(q.o, '_:')),
            l1 AS (SELECT g, b,
                          md5(string_agg(c, chr(10) ORDER BY c)) AS lbl
                   FROM c1 GROUP BY g, b),
            c2 AS (
              SELECT q.g, q.s AS b,
                     's|' || q.p || '|' || COALESCE(lo.lbl, q.o) AS c
              FROM quads q LEFT JOIN l1 lo
                ON lo.g = q.g AND lo.b = q.o
              WHERE starts_with(q.s, '_:')
              UNION ALL
              SELECT q.g, q.o,
                     'o|' || q.p || '|' || COALESCE(ls.lbl, q.s)
              FROM quads q LEFT JOIN l1 ls
                ON ls.g = q.g AND ls.b = q.s
              WHERE starts_with(q.o, '_:')),
            l2 AS (SELECT g, b,
                          md5(string_agg(c, chr(10) ORDER BY c)) AS lbl
                   FROM c2 GROUP BY g, b),
            c3 AS (
              SELECT q.g, q.s AS b,
                     's|' || q.p || '|' || COALESCE(lo.lbl, q.o) AS c
              FROM quads q LEFT JOIN l2 lo
                ON lo.g = q.g AND lo.b = q.o
              WHERE starts_with(q.s, '_:')
              UNION ALL
              SELECT q.g, q.o,
                     'o|' || q.p || '|' || COALESCE(ls.lbl, q.s)
              FROM quads q LEFT JOIN l2 ls
                ON ls.g = q.g AND ls.b = q.s
              WHERE starts_with(q.o, '_:')),
            l3 AS (SELECT g, b,
                          md5(string_agg(c, chr(10) ORDER BY c)) AS lbl
                   FROM c3 GROUP BY g, b)
            SELECT g AS context, b AS bnode,
                   'c14n' || (row_number() OVER (
                       PARTITION BY g ORDER BY lbl, b) - 1)
                     AS canon_label,
                   lbl AS hash,
                   CAST(COUNT(*) OVER (PARTITION BY g, lbl) - 1
                        AS BIGINT) AS n_hash_ties
            FROM l3 ORDER BY context, canon_label""",
        "store_zonemap_prune": """
            WITH rows_ AS (
              SELECT doc_id, (doc_id * 37) % 1461 AS v FROM documents),
            both_ AS (
              SELECT 'ingest' AS layout,
                     'ingest-' || (doc_id // 50) AS file_id, v
              FROM rows_
              UNION ALL
              SELECT 'clustered', 'date-' || (v // 150), v FROM rows_),
            st AS (
              SELECT layout, file_id,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(MIN(v) AS BIGINT) AS min_value,
                     CAST(MAX(v) AS BIGINT) AS max_value
              FROM both_ GROUP BY layout, file_id)
            SELECT layout, file_id, n_rows, min_value, max_value,
                   CAST(CASE WHEN max_value >= 300 AND min_value <= 450
                        THEN 1 ELSE 0 END AS BIGINT) AS overlaps,
                   CAST(CASE WHEN max_value >= 300 AND min_value <= 450
                        THEN 0 ELSE 1 END AS BIGINT) AS pruned
            FROM st ORDER BY layout, file_id""",
        "events_decayed_counts": """
            WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d
                       FROM events),
            r AS (SELECT MAX(d) AS ref FROM d),
            w AS (SELECT user_id, d,
                         1000000 // (1::BIGINT << LEAST(
                           date_diff('day', d, ref) // 7, 62)) AS w
                  FROM d, r)
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(w) AS BIGINT) AS decayed_micro,
                   strftime(MAX(d), '%Y-%m-%d') AS last_day
            FROM w GROUP BY user_id ORDER BY user_id""",
        "stats_bh_fdr": """
            WITH n_ AS (SELECT DISTINCT doc_id % 50 AS n
                        FROM documents),
            t AS (SELECT 'e' || n AS test_id,
                         CAST(CASE WHEN n % 5 = 0 THEN n * 97 + 1
                              ELSE n * 19801 + 10000 END AS BIGINT)
                           AS p_micro
                  FROM n_),
            ranked AS (
              SELECT test_id, p_micro,
                     CAST(row_number() OVER (
                       ORDER BY p_micro, test_id) AS BIGINT) AS rank,
                     CAST(COUNT(*) OVER () AS BIGINT) AS m
              FROM t),
            dec AS (
              SELECT *,
                     CASE WHEN p_micro * m <= rank * 50000
                          THEN 1 ELSE 0 END AS pass_
              FROM ranked)
            SELECT test_id, p_micro, rank,
                   CAST(rank * 50000 // m AS BIGINT)
                     AS bh_threshold_micro,
                   CAST(MAX(pass_) OVER (
                     ORDER BY rank ROWS BETWEEN CURRENT ROW AND
                     UNBOUNDED FOLLOWING) AS BIGINT) AS rejected
            FROM dec ORDER BY rank""",
        "clean_template_clusters": r"""
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
            FROM s GROUP BY tagseq ORDER BY signature""",
        "text_date_normalize": """
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
            FROM rows_ ORDER BY url, form, pos""",
        "kg_path_rules": """
            WITH t AS (
              SELECT 'https://example.org/res/doc/' || doc_id AS s,
                     'ex:author' AS p, 'p' || (doc_id % 40) AS o
              FROM documents
              UNION ALL
              SELECT 'p' || (doc_id % 40), 'ex:affiliation',
                     'o' || (doc_id % 8) FROM documents
              UNION ALL
              SELECT 'p' || (doc_id % 40), 'ex:member',
                     't' || (doc_id % 4) FROM documents
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'ex:works_at', 'o' || (doc_id % 8)
              FROM documents WHERE doc_id % 3 <> 0
              UNION ALL
              SELECT 'o' || (doc_id % 8), 'ex:parent_org',
                     'g' || ((doc_id % 8) // 4) FROM documents
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'ex:division', 'g' || ((doc_id % 8) // 4)
              FROM documents WHERE doc_id % 2 = 0),
            body AS (
              SELECT DISTINCT a.p AS p1, b.p AS p2, a.s AS x,
                              b.o AS z
              FROM t a JOIN t b ON a.o = b.s),
            nb AS (SELECT p1, p2,
                          CAST(COUNT(*) AS BIGINT) AS n_body_pairs
                   FROM body GROUP BY p1, p2),
            supp AS (
              SELECT body.p1, body.p2, h.p AS head_pred,
                     CAST(COUNT(*) AS BIGINT) AS support
              FROM body JOIN t h
                ON h.s = body.x AND h.o = body.z
              GROUP BY 1, 2, 3)
            SELECT p1 AS body_p1, p2 AS body_p2, head_pred, support,
                   n_body_pairs,
                   CAST(1000 * support // n_body_pairs AS BIGINT)
                     AS confidence_permille
            FROM supp JOIN nb USING (p1, p2)
            WHERE support >= 1
            ORDER BY body_p1, body_p2, head_pred""",
        "crawl_warc_revisit": """
            WITH caps AS (
              SELECT 'https://example.org/page/' || doc_id AS url,
                     '2024-01-01' AS warc_ts,
                     'dg' || (doc_id % 2) AS digest
              FROM documents
              UNION ALL
              SELECT 'https://example.org/page/' || doc_id,
                     '2024-01-02', 'dg' || (doc_id % 2)
              FROM documents
              UNION ALL
              SELECT 'https://example.org/page/' || doc_id,
                     '2024-01-03',
                     CASE WHEN doc_id % 3 = 0
                          THEN 'dg' || (doc_id % 2) ELSE 'dgX' END
              FROM documents),
            x AS (
              SELECT *,
                     row_number() OVER (PARTITION BY url, digest
                                        ORDER BY warc_ts) AS rn,
                     MIN(warc_ts) OVER (PARTITION BY url, digest)
                       AS f
              FROM caps)
            SELECT url, warc_ts, digest,
                   CASE WHEN rn = 1 THEN 'response'
                        ELSE 'revisit' END AS record_type,
                   CASE WHEN rn > 1 THEN f END AS refers_to_ts
            FROM x ORDER BY url, warc_ts""",
        # parents are closed-form for the two planted page shapes
        "kg_heading_outline": """
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
            FROM r ORDER BY url, pos""",
        "search_more_like_this": """
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
            FROM r WHERE rank <= 5 ORDER BY seed_id, rank""",
        "train_neyman_allocation": """
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
            FROM f ORDER BY stratum""",
        "kg_breadcrumbs": """
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
            FROM r ORDER BY url, pos""",
        "kg_katz": """
            WITH e AS (
              SELECT 'e' || (doc_id % 50) AS u,
                     'e' || ((doc_id * 3 + 1) % 50) AS v
              FROM documents
              UNION ALL
              SELECT 'e' || (doc_id % 50),
                     'e' || ((doc_id * 7 + 3) % 50)
              FROM documents),
            n AS (SELECT DISTINCT u AS node FROM e
                  UNION SELECT DISTINCT v FROM e),
            m0 AS (SELECT node, CAST(1000000 AS BIGINT) AS m FROM n),
            m1 AS (SELECT v AS node, CAST(SUM(m // 2) AS BIGINT) AS m
                   FROM e JOIN m0 ON m0.node = e.u GROUP BY v),
            m2 AS (SELECT v AS node, CAST(SUM(m // 2) AS BIGINT) AS m
                   FROM e JOIN m1 ON m1.node = e.u GROUP BY v),
            m3 AS (SELECT v AS node, CAST(SUM(m // 2) AS BIGINT) AS m
                   FROM e JOIN m2 ON m2.node = e.u GROUP BY v)
            SELECT n.node,
                   CAST(1000000 + COALESCE(m1.m, 0)
                        + COALESCE(m2.m, 0) + COALESCE(m3.m, 0)
                        AS BIGINT) AS katz_micro,
                   CAST(3 AS BIGINT) AS n_rounds
            FROM n LEFT JOIN m1 USING (node)
                   LEFT JOIN m2 USING (node)
                   LEFT JOIN m3 USING (node)
            ORDER BY node""",
        # planted snippet: 2 braces, 3 semicolons, 2 indented lines,
        # 2 assignments, 5 lines -> score 1400; prose rows are
        # punctuation-free single lines
        "text_code_detection": """
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
            FROM documents ORDER BY doc_id""",
        "kg_graph_diff": """
            WITH old_t AS (
              SELECT 'https://example.org/res/doc/' || doc_id AS s,
                     'dct:title' AS p, 'Document ' || doc_id AS o
              FROM documents
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'dct:publisher', 'pub' || (doc_id % 7)
              FROM documents
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'dct:subject', 'topic' || (doc_id % 11)
              FROM documents),
            new_t AS (
              SELECT 'https://example.org/res/doc/' || doc_id AS s,
                     'dct:title' AS p,
                     'Document ' || doc_id ||
                     CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END
                       AS o
              FROM documents
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'dct:publisher', 'pub' || (doc_id % 7)
              FROM documents
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'dct:subject', 'topic' || (doc_id % 11)
              FROM documents WHERE doc_id % 13 <> 0
              UNION ALL
              SELECT 'https://example.org/res/doc/' || doc_id,
                     'dct:note', 'updated'
              FROM documents WHERE doc_id % 11 = 0),
            j AS (
              SELECT COALESCE(o.s, n.s) AS subj,
                     CASE WHEN o.s IS NULL THEN 1 ELSE 0 END AS a,
                     CASE WHEN n.s IS NULL THEN 1 ELSE 0 END AS r,
                     CASE WHEN o.s IS NOT NULL AND n.s IS NOT NULL
                          THEN 1 ELSE 0 END AS u
              FROM old_t o FULL OUTER JOIN new_t n
                ON o.s = n.s AND o.p = n.p AND o.o = n.o),
            agg AS (
              SELECT subj, CAST(SUM(a) AS BIGINT) AS n_added,
                     CAST(SUM(r) AS BIGINT) AS n_removed,
                     CAST(SUM(u) AS BIGINT) AS n_unchanged
              FROM j GROUP BY subj)
            SELECT subj, n_added, n_removed, n_unchanged,
                   CASE WHEN n_added = 0 AND n_removed = 0
                        THEN 'unchanged'
                        WHEN n_unchanged + n_removed = 0 THEN 'added'
                        WHEN n_unchanged + n_added = 0 THEN 'removed'
                        ELSE 'modified' END AS change_type
            FROM agg ORDER BY subj""",
        "kg_void_stats": _ALL_TRIPLES_WITH + """,
            sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt,
                          CAST(COUNT(DISTINCT subj) AS BIGINT) AS ns,
                          CAST(COUNT(DISTINCT obj) AS BIGINT) AS no,
                          CAST(COUNT(DISTINCT pred) AS BIGINT) AS np
                   FROM all_triples),
            part AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n
                     FROM all_triples GROUP BY pred),
            rows_ AS (
              SELECT 'https://example.org/dataset' AS subj,
                     'http://rdfs.org/ns/void#triples' AS pred,
                     CAST(nt AS VARCHAR) AS obj FROM sc
              UNION ALL
              SELECT 'https://example.org/dataset',
                     'http://rdfs.org/ns/void#distinctSubjects',
                     CAST(ns AS VARCHAR) FROM sc
              UNION ALL
              SELECT 'https://example.org/dataset',
                     'http://rdfs.org/ns/void#distinctObjects',
                     CAST(no AS VARCHAR) FROM sc
              UNION ALL
              SELECT 'https://example.org/dataset',
                     'http://rdfs.org/ns/void#properties',
                     CAST(np AS VARCHAR) FROM sc
              UNION ALL
              SELECT 'https://example.org/dataset',
                     'http://rdfs.org/ns/void#propertyPartition',
                     'https://example.org/dataset#prop-' || md5(pred)
              FROM part
              UNION ALL
              SELECT 'https://example.org/dataset#prop-' || md5(pred),
                     'http://rdfs.org/ns/void#property', pred
              FROM part
              UNION ALL
              SELECT 'https://example.org/dataset#prop-' || md5(pred),
                     'http://rdfs.org/ns/void#triples',
                     CAST(n AS VARCHAR)
              FROM part)
            SELECT subj, pred, obj FROM rows_
            ORDER BY subj, pred, obj""",
        "kg_prov_triples": """
            WITH src AS (SELECT source,
                                CAST(COUNT(*) AS BIGINT) AS n
                         FROM documents GROUP BY source),
            runs AS (
              SELECT st.stage, src.source,
                     '2024-01-0' || st.i || '00:00:00' AS started,
                     '2024-01-0' || st.i || '01:00:00' AS ended,
                     src.n AS n_out
              FROM src, (VALUES ('fetch', 1), ('parse', 2),
                                ('distill', 3)) AS st(stage, i)),
            t AS (
              SELECT 'urn:artifact:' || stage || ':' || source
                       AS subj,
                     'http://www.w3.org/ns/prov#wasGeneratedBy'
                       AS pred,
                     'urn:activity:' || stage || ':' || source AS obj
              FROM runs
              UNION ALL
              SELECT 'urn:artifact:' || stage || ':' || source,
                     'http://www.w3.org/ns/prov#wasDerivedFrom',
                     'urn:artifact:input:' || source FROM runs
              UNION ALL
              SELECT 'urn:activity:' || stage || ':' || source,
                     'http://www.w3.org/ns/prov#used',
                     'urn:artifact:input:' || source FROM runs
              UNION ALL
              SELECT 'urn:activity:' || stage || ':' || source,
                     'http://www.w3.org/ns/prov#startedAtTime',
                     started FROM runs
              UNION ALL
              SELECT 'urn:activity:' || stage || ':' || source,
                     'http://www.w3.org/ns/prov#endedAtTime',
                     ended FROM runs
              UNION ALL
              SELECT 'urn:artifact:' || stage || ':' || source,
                     'https://example.org/ns#rowCount',
                     CAST(n_out AS VARCHAR) FROM runs)
            SELECT subj, pred, obj FROM t
            ORDER BY subj, pred, obj""",
        "search_rrf_fusion": """
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
            FROM fin WHERE rank <= 10 ORDER BY query, rank""",
        # independent naive quadratic join (no bucketing) -- a
        # missed-pair bug in the grid replication would hash-mismatch
        "kg_geo_join": """
            WITH p AS (
              SELECT doc_id AS pid,
                     (doc_id % 20) * 5000 + (doc_id * 37) % 400
                       AS la,
                     (((doc_id % 20) * 3) % 20) * 5000
                       + (doc_id * 53) % 400 AS lo
              FROM documents)
            SELECT a.pid AS id_a, b.pid AS id_b,
                   CAST((a.la - b.la) * (a.la - b.la)
                        + (a.lo - b.lo) * (a.lo - b.lo) AS BIGINT)
                     AS dist_sq_micro
            FROM p a JOIN p b ON a.pid < b.pid
            WHERE (a.la - b.la) * (a.la - b.la)
                  + (a.lo - b.lo) * (a.lo - b.lo) <= 1000 * 1000
            ORDER BY id_a, id_b""",
        "stats_mad_outliers": """
            WITH v AS (SELECT source AS grp,
                              CAST(n_chars AS BIGINT) AS value
                       FROM documents),
            m AS (
              SELECT grp, value AS median FROM (
                SELECT grp, value,
                       row_number() OVER (PARTITION BY grp
                                          ORDER BY value) AS rn,
                       COUNT(*) OVER (PARTITION BY grp) AS n
                FROM v) WHERE rn = (n + 1) // 2),
            dev AS (
              SELECT v.grp, v.value, m.median,
                     CAST(abs(v.value - m.median) AS BIGINT)
                       AS abs_dev
              FROM v JOIN m USING (grp)),
            md AS (
              SELECT grp, abs_dev AS mad FROM (
                SELECT grp, abs_dev,
                       row_number() OVER (PARTITION BY grp
                                          ORDER BY abs_dev) AS rn,
                       COUNT(*) OVER (PARTITION BY grp) AS n
                FROM dev) WHERE rn = (n + 1) // 2)
            SELECT dev.grp AS "group", dev.value, dev.median,
                   CAST(md.mad AS BIGINT) AS mad, dev.abs_dev,
                   CAST(CASE WHEN dev.abs_dev * 1000 > md.mad * 3000
                        THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
            FROM dev JOIN md USING (grp)
            ORDER BY "group", value""",
        # the 12-pair IND audit matrix, independent subquery form
        # (no inverted list -- a SINDY bug would hash-mismatch)
        "kg_inclusion_deps": (
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
            + " ORDER BY lhs, rhs"),
        "kg_interval_conflicts": """
            WITH facts AS (
              SELECT 'https://example.org/res/entity/' || (doc_id % 50)
                       AS subject,
                     'org:employer' AS predicate,
                     'https://example.org/res/org/pub' || (doc_id % 7)
                       AS object,
                     DATE '2020-01-01'
                       + INTERVAL ((doc_id * 37) % 1461) DAY
                       AS valid_from,
                     DATE '2020-01-01'
                       + INTERVAL (((doc_id * 37) % 1461)
                                   + 60 + (doc_id % 5) * 45) DAY
                       AS valid_to
              FROM documents)
            SELECT a.subject, a.predicate,
                   a.object AS obj_a, b.object AS obj_b,
                   strftime(greatest(a.valid_from, b.valid_from),
                            '%Y-%m-%d') AS overlap_from,
                   strftime(least(a.valid_to, b.valid_to),
                            '%Y-%m-%d') AS overlap_to
            FROM facts a JOIN facts b
              ON a.subject = b.subject AND a.predicate = b.predicate
            WHERE a.object < b.object
              AND a.valid_from < b.valid_to
              AND b.valid_from < a.valid_to
            ORDER BY a.subject, obj_a, obj_b, overlap_from,
                     overlap_to""",
        "kg_conductance": """
            WITH e0 AS (
              SELECT doc_id AS x, doc_id + 1 AS y FROM documents
              WHERE doc_id % 10 <> 9
              UNION ALL
              SELECT doc_id, doc_id - 10 FROM documents
              WHERE doc_id % 10 = 5 AND doc_id >= 10),
            und AS (SELECT DISTINCT least(x, y) AS u,
                           greatest(x, y) AS v
                    FROM e0 WHERE x <> y),
            deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
                      SELECT u AS n FROM und
                      UNION ALL SELECT v FROM und) GROUP BY n),
            asg AS (SELECT doc_id AS n, doc_id // 10 AS community
                    FROM documents),
            m2 AS (SELECT 2 * COUNT(*) AS m2 FROM und),
            vol AS (SELECT community,
                           CAST(COUNT(*) AS BIGINT) AS n_nodes,
                           CAST(SUM(COALESCE(d, 0)) AS BIGINT)
                             AS volume
                    FROM asg LEFT JOIN deg USING (n)
                    GROUP BY community),
            xe AS (SELECT au.community AS ca, av.community AS cb
                   FROM und JOIN asg au ON und.u = au.n
                            JOIN asg av ON und.v = av.n
                   WHERE au.community <> av.community),
            cut AS (SELECT community,
                           CAST(COUNT(*) AS BIGINT) AS cut_edges
                    FROM (SELECT ca AS community FROM xe
                          UNION ALL SELECT cb FROM xe)
                    GROUP BY community)
            SELECT vol.community, n_nodes, volume,
                   CAST(COALESCE(cut_edges, 0) AS BIGINT) AS cut_edges,
                   CASE WHEN least(volume, m2.m2 - volume) > 0
                        THEN CAST(COALESCE(cut_edges, 0) * 1000
                             // least(volume, m2.m2 - volume)
                             AS BIGINT) END AS conductance_permille
            FROM vol LEFT JOIN cut USING (community), m2
            ORDER BY vol.community""",
        # AMS F2: identical md5 sign chain, exact long accumulators
        "stats_ams_f2": r"""
            WITH toks AS (
              SELECT string_split_regex(lower(trim(text)),
                     '[ \t\n\r\f\x0B]+') AS t
              FROM documents),
            items AS (SELECT unnest(t) AS token FROM toks),
            counts AS (SELECT token AS k,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM items GROUP BY token),
            x AS (SELECT est,
                         CAST(SUM((1 - 2 * (CAST(('0x' || substr(
                              md5('ams' || est || ':' || k), 1, 8))
                              AS BIGINT) % 2)) * cnt) AS BIGINT) AS x
                  FROM counts,
                       (SELECT unnest(generate_series(0, 15)) AS est)
                  GROUP BY est),
            g AS (SELECT CAST(est // 4 AS BIGINT) AS group_id,
                         CAST(SUM(x * x) AS BIGINT) AS sum_sq
                  FROM x GROUP BY 1),
            e AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2
                  FROM counts)
            SELECT group_id, sum_sq,
                   CAST(sum_sq // 4 AS BIGINT) AS estimate_f2,
                   exact_f2,
                   CAST(abs(sum_sq // 4 - exact_f2) * 1000
                        // exact_f2 AS BIGINT) AS err_permille
            FROM g, e ORDER BY group_id""",
        "stats_spearman": """
            WITH v AS (
              SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
                     CAST(n_chars * 3 + (doc_id % 97) AS BIGINT) AS y,
                     doc_id AS id
              FROM documents),
            r AS (SELECT grp,
                         row_number() OVER (PARTITION BY grp
                                            ORDER BY x, id) AS rx,
                         row_number() OVER (PARTITION BY grp
                                            ORDER BY y, id) AS ry
                  FROM v),
            a AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT)
                           AS sum_d_sq
                  FROM r GROUP BY grp)
            SELECT grp AS "group", n, sum_d_sq,
                   CASE WHEN n >= 2 THEN
                     CAST(1000000 - (6000000 * sum_d_sq)
                          // (n * (n * n - 1)) AS BIGINT) END
                     AS rho_micro
            FROM a ORDER BY "group" """,
        "stats_kendall": """
            WITH v AS (
              SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
                     CAST(n_chars * 3 + (doc_id % 97) AS BIGINT) AS y,
                     doc_id AS id
              FROM documents),
            r AS (SELECT grp, id,
                         row_number() OVER (PARTITION BY grp
                                            ORDER BY x, id) AS rx,
                         row_number() OVER (PARTITION BY grp
                                            ORDER BY y, id) AS ry
                  FROM v),
            p AS (SELECT a.grp,
                         CASE WHEN (a.rx < b.rx AND a.ry < b.ry)
                                OR (a.rx > b.rx AND a.ry > b.ry)
                              THEN 1 ELSE 0 END AS conc
                  FROM r a JOIN r b
                    ON a.grp = b.grp AND a.id < b.id),
            agg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                           CAST(SUM(conc) AS BIGINT) AS n_concordant
                    FROM p GROUP BY grp),
            nn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n
                   FROM r GROUP BY grp)
            SELECT agg.grp AS "group", nn.n, n_concordant,
                   CAST(n_pairs - n_concordant AS BIGINT)
                     AS n_discordant,
                   CASE WHEN n_pairs > 0 THEN
                     CAST(sign(2 * n_concordant - n_pairs)
                          * (abs(2 * n_concordant - n_pairs)
                             * 1000000 // n_pairs) AS BIGINT) END
                     AS tau_micro
            FROM agg JOIN nn USING (grp) ORDER BY "group" """,
        # mirrors multimodal.synth_exif_blobs: every decoded field
        # closed-form in doc_id, blob always 116 bytes
        "mm_exif_meta": """
            SELECT doc_id,
                   CAST(32 + doc_id % 480 AS INT) AS width,
                   CAST(24 + (doc_id * 3) % 360 AS INT) AS height,
                   CAST(1 + doc_id % 8 AS INT) AS orientation,
                   CAST(72 + doc_id % 228 AS INT) AS x_resolution,
                   '2020:01:01 '
                     || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                     || ':'
                     || lpad(CAST((doc_id * 7) % 60 AS VARCHAR),
                             2, '0')
                     || ':'
                     || lpad(CAST((doc_id * 13) % 60 AS VARCHAR),
                             2, '0') AS datetime_original,
                   CAST(116 AS BIGINT) AS n_bytes
            FROM documents ORDER BY doc_id""",
        # mirrors _gallery_pages: alt/src closed-form in (doc_id, k)
        "mm_alt_text_pairs": """
            WITH imgs AS (
              SELECT doc_id,
                     unnest(generate_series(0, doc_id % 3)) AS k
              FROM documents),
            c AS (SELECT doc_id, k, (doc_id + k) % 4 AS cs FROM imgs)
            SELECT 'https://example.org/gallery/' || doc_id AS url,
                   CAST(k AS INT) AS img_idx,
                   'https://img.example.org/' || doc_id || '/' || k
                     || '.jpg' AS img_src,
                   CASE cs WHEN 1 THEN 'stock photo'
                           WHEN 2 THEN 'photo of entity '
                                       || (doc_id % 50)
                           WHEN 3 THEN 'chart for topic '
                                       || (doc_id % 11) END
                     AS alt_text,
                   CAST(CASE cs WHEN 1 THEN 2 WHEN 2 THEN 4
                                WHEN 3 THEN 4 ELSE 0 END AS INT)
                     AS n_alt_words,
                   cs IN (2, 3) AS kept
            FROM c ORDER BY url, img_idx""",
        "events_attribution": """
            WITH ca AS (
              SELECT event_id, ts, user_id, event_type,
                     SUM(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS conv
              FROM events),
            t AS (SELECT user_id AS usr, conv,
                         event_type AS channel, ts, event_id
                  FROM ca
                  WHERE event_type IN ('click', 'view', 'signup')
                    AND conv > 0),
            m AS (SELECT channel, usr, conv,
                         row_number() OVER (PARTITION BY usr, conv
                           ORDER BY ts, event_id) = 1 AS is_first,
                         row_number() OVER (PARTITION BY usr, conv
                           ORDER BY ts DESC, event_id DESC) = 1
                           AS is_last,
                         COUNT(*) OVER (PARTITION BY usr, conv)
                           AS n_j
                  FROM t)
            SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
                   CAST(COUNT(DISTINCT (usr, conv)) AS BIGINT)
                     AS n_conversions_touched,
                   CAST(SUM(CASE WHEN is_first THEN 1000 ELSE 0 END)
                     AS BIGINT) AS first_permille,
                   CAST(SUM(CASE WHEN is_last THEN 1000 ELSE 0 END)
                     AS BIGINT) AS last_permille,
                   CAST(SUM(1000 // n_j
                        + CASE WHEN is_last
                          THEN 1000 - (1000 // n_j) * n_j
                          ELSE 0 END) AS BIGINT) AS linear_permille
            FROM m GROUP BY channel ORDER BY channel""",
        "events_paths": """
            WITH r AS (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
              FROM events),
            h AS (SELECT user_id, rn, event_type FROM r
                  WHERE rn <= 3),
            p AS (SELECT h.user_id, d.depth,
                         string_agg(h.event_type, '>'
                                    ORDER BY h.rn) AS path
                  FROM h, (SELECT unnest(generate_series(1, 3))
                           AS depth) d
                  WHERE h.rn <= d.depth
                  GROUP BY h.user_id, d.depth
                  HAVING COUNT(*) = d.depth)
            SELECT CAST(depth AS INT) AS depth, path,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM p GROUP BY depth, path ORDER BY depth, path""",
        "text_kwic": r"""
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
            ORDER BY doc_id, pos""",
        # Harman S-stemmer rules as CASE algebra over the vocab
        "text_s_stemmer": r"""
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
            FROM v ORDER BY token""",
        "text_burstiness": r"""
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
            FROM pt, nn ORDER BY term""",
        # identical md5 bit chain as operators/store.bloom_file_skipping
        "store_bloom_skipping": "WITH " + _F_CTE + """,
            fk AS (SELECT DISTINCT doc_id // 50 AS fl, url AS key
                   FROM f),
            probes AS (
              SELECT url AS probe FROM f WHERE doc_id % 100 = 7
              UNION
              SELECT 'https://absent.example.org/' || doc_id
              FROM documents WHERE doc_id < 10),
            bits AS (SELECT DISTINCT fl,
                            CAST(('0x' || substr(md5('bloom' || i
                              || ':' || key), 1, 8)) AS BIGINT) % 256
                              AS bit
                     FROM fk, (SELECT unnest(generate_series(0, 2))
                               AS i)),
            pb AS (SELECT DISTINCT probe,
                          CAST(('0x' || substr(md5('bloom' || i
                            || ':' || probe), 1, 8)) AS BIGINT) % 256
                            AS bit
                   FROM probes, (SELECT unnest(generate_series(0, 2))
                                 AS i)),
            keff AS (SELECT probe, COUNT(DISTINCT bit) AS k_eff
                     FROM pb GROUP BY probe),
            hits AS (SELECT probe, fl,
                            COUNT(DISTINCT pb.bit) AS n_set
                     FROM bits JOIN pb USING (bit)
                     GROUP BY probe, fl),
            scanned AS (SELECT probe,
                               CAST(COUNT(*) AS BIGINT) AS n_scanned
                        FROM hits JOIN keff USING (probe)
                        WHERE n_set = k_eff GROUP BY probe),
            truth AS (SELECT key AS probe,
                             CAST(COUNT(*) AS BIGINT) AS n_matching
                      FROM fk WHERE key IN (SELECT probe FROM probes)
                      GROUP BY key),
            nf AS (SELECT CAST(COUNT(DISTINCT fl) AS BIGINT)
                     AS n_files FROM fk)
            SELECT p.probe, nf.n_files,
                   CAST(COALESCE(s.n_scanned, 0) AS BIGINT)
                     AS n_scanned,
                   CAST(COALESCE(t.n_matching, 0) AS BIGINT)
                     AS n_matching,
                   CAST(COALESCE(s.n_scanned, 0)
                        - COALESCE(t.n_matching, 0) AS BIGINT)
                     AS n_false_positive
            FROM probes p
            CROSS JOIN nf
            LEFT JOIN scanned s ON p.probe = s.probe
            LEFT JOIN truth t ON p.probe = t.probe
            ORDER BY p.probe""",
        # 2-round Sums fixpoint unrolled, integer micro + div-by-max
        "kg_truthfinder": """
            WITH claims AS (
              SELECT 'https://example.org/res/entity/' || (doc_id % 50)
                       AS subject,
                     'rdfs:label' AS predicate,
                     'Label ' || (CASE WHEN doc_id % 3 = 0
                                  THEN (doc_id % 50 + 1) % 7
                                  ELSE (doc_id % 50) % 7 END)
                       AS object,
                     source
              FROM documents),
            e AS (SELECT DISTINCT subject, predicate, object, source
                  FROM claims),
            b1r AS (SELECT subject, predicate, object,
                           COUNT(DISTINCT source) AS ns,
                           CAST(COUNT(DISTINCT source) * 1000000
                                AS BIGINT) AS b
                    FROM e GROUP BY 1, 2, 3),
            b1 AS (SELECT subject, predicate, object, ns,
                          CAST(b * 1000000
                               // (SELECT MAX(b) FROM b1r)
                               AS BIGINT) AS b
                   FROM b1r),
            t1r AS (SELECT source, CAST(SUM(b1.b) AS BIGINT) AS t
                    FROM e JOIN b1
                      USING (subject, predicate, object)
                    GROUP BY source),
            t1 AS (SELECT source,
                          CAST(t * 1000000
                               // (SELECT MAX(t) FROM t1r)
                               AS BIGINT) AS t
                   FROM t1r),
            b2r AS (SELECT subject, predicate, object,
                           COUNT(DISTINCT e.source) AS ns,
                           CAST(SUM(t1.t) AS BIGINT) AS b
                    FROM e JOIN t1 USING (source)
                    GROUP BY 1, 2, 3),
            b2 AS (SELECT subject, predicate, object,
                          CAST(ns AS BIGINT) AS n_sources,
                          CAST(b * 1000000
                               // (SELECT MAX(b) FROM b2r)
                               AS BIGINT) AS b
                   FROM b2r)
            SELECT subject, predicate, object, n_sources,
                   b AS belief_micro,
                   row_number() OVER (PARTITION BY subject, predicate
                                      ORDER BY b DESC, object) = 1
                     AS is_winner
            FROM b2 ORDER BY subject, object""",
        "store_hilbert_layout": (lambda chain: """
            WITH base AS (
              SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS x,
                     CAST((doc_id * 7 + 3) % 256 AS BIGINT) AS y,
                     CAST(0 AS BIGINT) AS d
              FROM documents), """ + chain[0] + """
            SELECT b.doc_id, b.x, b.y,
                   CAST(f.d AS BIGINT) AS hvalue,
                   CAST(f.d >> 12 AS BIGINT) AS hbucket
            FROM base b JOIN """ + chain[1] + """ f USING (doc_id)
            ORDER BY b.doc_id""")(_hilbert_chain_sql(8)),
        "events_markov_attribution": _markov_sql(),
        "store_expire_snapshots": """
            WITH tbls AS (
              SELECT DISTINCT source AS tbl,
                     (doc_id // 20) % 10 AS snap_id
              FROM documents WHERE doc_id < 200),
            snaps AS (SELECT tbl, snap_id,
                             1700000000 + snap_id * 86400
                               AS committed_at
                      FROM tbls),
            mf AS (SELECT tbl, snap_id, tbl || '-f' || fs AS file_id
                   FROM (SELECT tbl, snap_id,
                                unnest(generate_series(
                                  greatest(0, snap_id - 4), snap_id))
                                  AS fs
                         FROM snaps)),
            marked AS (SELECT tbl, snap_id,
                              row_number() OVER (PARTITION BY tbl
                                ORDER BY committed_at DESC,
                                         snap_id DESC) <= 3
                                AS retained
                       FROM snaps),
            pf AS (SELECT tbl, file_id,
                          CAST(COUNT(*) AS BIGINT) AS n_refs,
                          CAST(SUM(CASE WHEN retained THEN 0 ELSE 1
                                    END) AS BIGINT)
                            AS n_expired_refs,
                          MAX(retained) AS live
                   FROM mf JOIN marked USING (tbl, snap_id)
                   GROUP BY tbl, file_id)
            SELECT tbl, file_id,
                   CASE WHEN live THEN 'keep' ELSE 'delete' END
                     AS action,
                   n_refs, n_expired_refs
            FROM pf ORDER BY tbl, file_id""",
        # components are per-user by construction; canonical =
        # (length, value)-min, CC's deterministic pick
        "events_identity_stitch": """
            WITH ids AS (
              SELECT DISTINCT user_id, 'dev' || user_id AS id
              FROM events
              UNION
              SELECT DISTINCT user_id, 'dtv' || user_id
              FROM events WHERE event_id % 5 = 0
              UNION
              SELECT DISTINCT user_id,
                     'ck' || (user_id * 3 + event_id % 3)
              FROM events),
            c AS (SELECT user_id, id,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY length(id), id) AS rn
                  FROM ids)
            SELECT i.id AS identifier, m.id AS canonical_id
            FROM ids i JOIN c m
              ON i.user_id = m.user_id AND m.rn = 1
            ORDER BY identifier""",
        # per-(doc, shot) dHash recomputed from the closed-form
        # pixels (same mix as mm_image_dhash, base = 2*doc + shot)
        "mm_video_shots": """
            WITH fr AS (
              SELECT doc_id,
                     CAST(unnest(generate_series(0, 3 + doc_id % 3))
                          AS INT) AS frame_idx
              FROM documents),
            sb AS (SELECT DISTINCT doc_id,
                          doc_id * 2 + CASE WHEN frame_idx >= 2
                                       THEN 1 ELSE 0 END AS base
                   FROM fr),
            grid AS (
              SELECT doc_id, base, r.r, c.c
              FROM sb,
                   (SELECT CAST(unnest(generate_series(0, 6))
                                AS BIGINT) AS r) r,
                   (SELECT CAST(unnest(generate_series(0, 8))
                                AS BIGINT) AS c) c),
            px AS (
              SELECT doc_id, base, r, c,
                     (((base * 2654435761) % 1048573)
                      * ((r*9+c+1) * (r*9+c+2) * (r*9+c+5))
                      + base + r * 9 + c) % 509 % 256 AS p
              FROM grid),
            bits AS (
              SELECT a.doc_id, a.base, a.r, a.c,
                     CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
              FROM px a JOIN px b
                ON a.doc_id = b.doc_id AND a.base = b.base
               AND a.r = b.r AND b.c = a.c + 1
              WHERE a.c < 8),
            dh AS (
              SELECT doc_id, base,
                     CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 8 + c)))
                          AS BIGINT) AS dhash
              FROM bits GROUP BY doc_id, base),
            fz AS (
              SELECT fr.doc_id, fr.frame_idx, dh.dhash
              FROM fr JOIN dh
                ON dh.doc_id = fr.doc_id
               AND dh.base = fr.doc_id * 2
                   + CASE WHEN fr.frame_idx >= 2 THEN 1 ELSE 0 END),
            lagd AS (
              SELECT doc_id, frame_idx, dhash,
                     lag(dhash) OVER (PARTITION BY doc_id
                                      ORDER BY frame_idx) AS prev
              FROM fz)
            SELECT doc_id, frame_idx, dhash,
                   CASE WHEN prev IS NOT NULL THEN
                     CAST(bit_count(xor(dhash, prev)) AS BIGINT) END
                     AS distance,
                   COALESCE(bit_count(xor(dhash, prev)) > 6, TRUE)
                     AS is_boundary
            FROM lagd ORDER BY doc_id, frame_idx""",
        # mirrors _q_kg_snowball's planted sentences + the operator's
        # mention-level pattern scoring and re-extraction
        "kg_snowball": """
            WITH s AS (
              SELECT doc_id, doc_id % 9 AS org_id, doc_id % 3 AS pat,
                     ((doc_id % 3 = 2) AND (doc_id % 2 = 0))
                       OR ((doc_id % 3 < 2) AND (doc_id % 17 = 0))
                       AS wrong
              FROM documents),
            t AS (
              SELECT 'Org' || org_id AS subject,
                     CASE pat WHEN 0 THEN 'is headquartered in'
                              WHEN 1 THEN 'is based in'
                              ELSE 'opened an office in' END
                       AS middle,
                     'City' || (CASE WHEN wrong
                                THEN (org_id % 5 + 1) % 5
                                ELSE org_id % 5 END) AS object,
                     org_id
              FROM s),
            seeds AS (
              SELECT 'Org' || k AS s_subj, 'City' || (k % 5) AS s_obj
              FROM (SELECT unnest(generate_series(0, 4)) AS k)),
            scored AS (
              SELECT middle,
                     CAST(SUM(CASE WHEN object = s_obj THEN 1
                              ELSE 0 END) AS BIGINT) AS n_pos,
                     CAST(COUNT(*) AS BIGINT) AS n_tot
              FROM t JOIN seeds ON t.subject = seeds.s_subj
              GROUP BY middle),
            kept AS (
              SELECT middle,
                     CAST(n_pos * 1000 // n_tot AS BIGINT)
                       AS pattern_conf
              FROM scored WHERE n_pos * 1000 // n_tot >= 600),
            hits AS (SELECT t.subject, t.object, kept.pattern_conf
                     FROM t JOIN kept USING (middle))
            SELECT subject, object,
                   CAST(MAX(pattern_conf) AS BIGINT)
                     AS confidence_permille,
                   CAST(COUNT(*) AS BIGINT) AS n_mentions,
                   subject IN (SELECT s_subj FROM seeds)
                     AS is_seed_subject
            FROM hits GROUP BY subject, object
            ORDER BY subject, object""",
        # the bm25 CTE chain (limit 50) + site join + collapse
        "search_collapse": r"""
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
            FROM m WHERE gr <= 1 ORDER BY query, rank""",
        "stats_ab_ztest": """
            WITH subj AS (
              SELECT user_id,
                     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS cohort,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1
                         ELSE 0 END) AS conv
              FROM events GROUP BY user_id),
            g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(conv) AS BIGINT) AS x
                  FROM subj GROUP BY cohort),
            a AS (SELECT cohort AS cohort_a, n AS n_a, x AS x_a
                  FROM g ORDER BY cohort LIMIT 1),
            b AS (SELECT cohort AS cohort_b, n AS n_b, x AS x_b
                  FROM g ORDER BY cohort DESC LIMIT 1),
            r AS (SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
                         (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
                         / (CAST(n_a AS DOUBLE)
                            + CAST(n_b AS DOUBLE)) AS p
                  FROM a CROSS JOIN b)
            SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
                   CASE WHEN (p * (1.0 - p))
                             * (1.0 / CAST(n_a AS DOUBLE)
                                + 1.0 / CAST(n_b AS DOUBLE)) > 0
                   THEN round((CAST(x_a AS DOUBLE)
                               / CAST(n_a AS DOUBLE)
                               - CAST(x_b AS DOUBLE)
                                 / CAST(n_b AS DOUBLE))
                              / sqrt((p * (1.0 - p))
                                     * (1.0 / CAST(n_a AS DOUBLE)
                                        + 1.0 / CAST(n_b AS DOUBLE))),
                              6) END AS z
            FROM r""",
        # identical polynomial rolling hash, 8-way contribution
        # explode, cumulative boundary count, ordered reassembly
        "dedup_cdc_chunks": """
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
            ORDER BY chunk_md5""",
        # unique MSF of the planted cycle family, stated closed-form:
        # complete 8-cycles lose their max-weight edge, paths keep all
        "kg_boruvka_msf": """
            WITH e AS (
              SELECT doc_id AS src, doc_id + 1 AS dst,
                     ((doc_id * 37) % 997) * 10000 + doc_id AS weight,
                     doc_id // 8 AS blk
              FROM documents WHERE doc_id % 8 <> 7
              UNION ALL
              SELECT doc_id, doc_id - 7,
                     ((doc_id * 37) % 997) * 10000 + doc_id,
                     doc_id // 8
              FROM documents WHERE doc_id % 8 = 7),
            m AS (SELECT *, COUNT(*) OVER (PARTITION BY blk) AS n_e,
                         MAX(weight) OVER (PARTITION BY blk) AS w_max
                  FROM e)
            SELECT CAST(least(src, dst) AS BIGINT) AS src,
                   CAST(greatest(src, dst) AS BIGINT) AS dst,
                   CAST(weight AS BIGINT) AS weight
            FROM m WHERE n_e < 8 OR weight <> w_max
            ORDER BY src, dst""",
        "train_curriculum": """
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
            FROM r, n ORDER BY doc_id""",
        # identical md5 bucket hash; manifest aggregated per
        # (bucket, file); probes map to exactly one bucket
        "store_bucket_prune": "WITH " + _F_CTE + """,
            rows_ AS (
              SELECT url,
                     CAST(('0x' || substr(md5('bucket:' || url),
                          1, 8)) AS BIGINT) % 16 AS bucket,
                     (CAST(('0x' || substr(md5('bucket:' || url),
                          1, 8)) AS BIGINT) % 16) || '-'
                       || (doc_id % 3) AS f
              FROM f),
            manifest AS (SELECT bucket, f,
                                CAST(COUNT(*) AS BIGINT) AS n_rows
                         FROM rows_ GROUP BY bucket, f),
            pbk AS (SELECT bucket,
                           CAST(COUNT(*) AS BIGINT)
                             AS n_files_scanned,
                           CAST(SUM(n_rows) AS BIGINT)
                             AS n_rows_scanned
                    FROM manifest GROUP BY bucket),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files_total
                    FROM manifest),
            probes AS (
              SELECT url AS probe FROM f WHERE doc_id % 97 = 5
              UNION ALL
              SELECT 'https://absent.example.org/' || doc_id
              FROM documents WHERE doc_id < 5),
            pb AS (SELECT probe,
                          CAST(('0x' || substr(md5('bucket:'
                            || probe), 1, 8)) AS BIGINT) % 16
                            AS bucket
                   FROM probes),
            mt AS (SELECT url AS probe,
                          CAST(COUNT(*) AS BIGINT)
                            AS n_matching_rows
                   FROM rows_
                   WHERE url IN (SELECT probe FROM probes)
                   GROUP BY url)
            SELECT pb.probe, pb.bucket, tot.n_files_total,
                   CAST(COALESCE(pbk.n_files_scanned, 0) AS BIGINT)
                     AS n_files_scanned,
                   CAST(COALESCE(pbk.n_rows_scanned, 0) AS BIGINT)
                     AS n_rows_scanned,
                   CAST(COALESCE(mt.n_matching_rows, 0) AS BIGINT)
                     AS n_matching_rows
            FROM pb
            CROSS JOIN tot
            LEFT JOIN pbk ON pb.bucket = pbk.bucket
            LEFT JOIN mt ON pb.probe = mt.probe
            ORDER BY pb.probe""",
        "kg_graph_coloring": _coloring_sql(8),
        "text_texttiling": r"""
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
            FROM lg ORDER BY doc_id, gap_idx""",
        "events_cohort_revenue": """
            WITH ev AS (
              SELECT event_id, user_id, event_type, value,
                     ts + INTERVAL (user_id % 6 + event_id % 4)
                       MONTH AS ts
              FROM events),
            first_e AS (
              SELECT user_id,
                     strftime(MIN(ts), '%Y-%m') AS cohort_month,
                     date_trunc('month', MIN(ts)) AS m0
              FROM ev GROUP BY user_id),
            rev AS (SELECT user_id, ts,
                           CAST(round(value * 100) AS BIGINT)
                             AS cents
                    FROM ev WHERE event_type = 'purchase'),
            j AS (SELECT r.user_id, f.cohort_month, r.cents,
                         CAST(datediff('month', f.m0,
                              date_trunc('month', r.ts)) AS BIGINT)
                           AS age_months
                  FROM rev r JOIN first_e f USING (user_id)),
            tri AS (SELECT cohort_month, age_months,
                           CAST(COUNT(DISTINCT user_id) AS BIGINT)
                             AS n_active_users,
                           CAST(SUM(cents) AS BIGINT)
                             AS revenue_cents
                    FROM j GROUP BY cohort_month, age_months)
            SELECT cohort_month, age_months, n_active_users,
                   revenue_cents,
                   CAST(SUM(revenue_cents) OVER (
                     PARTITION BY cohort_month ORDER BY age_months
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT)
                     AS cum_revenue_cents
            FROM tri ORDER BY cohort_month, age_months""",
        "store_partition_evolution": """
            WITH rows_ AS (
              SELECT CAST((doc_id * 7) % 2000 AS BIGINT) AS th
              FROM documents),
            manifest AS (
              SELECT CASE WHEN th >= 1000 THEN 'hour' ELSE 'day' END
                       AS spec,
                     CAST(CASE WHEN th >= 1000 THEN th
                          ELSE th // 24 END AS BIGINT)
                       AS partition_key,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM rows_ GROUP BY 1, 2)
            SELECT spec, partition_key, n_rows,
                   CAST(CASE WHEN spec = 'day'
                        THEN partition_key * 24
                        ELSE partition_key END AS BIGINT) AS lo_hour,
                   CAST(CASE WHEN spec = 'day'
                        THEN partition_key * 24 + 24
                        ELSE partition_key + 1 END AS BIGINT)
                     AS hi_hour,
                   (CASE WHEN spec = 'day' THEN partition_key * 24
                         ELSE partition_key END) < 1010
                   AND (CASE WHEN spec = 'day'
                        THEN partition_key * 24 + 24
                        ELSE partition_key + 1 END) > 990
                     AS scanned
            FROM manifest ORDER BY spec, partition_key""",
        "text_stopword_induction": r"""
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
            FROM pt, nn ORDER BY term""",
        "kg_asof_diff": """
            WITH facts AS (
              SELECT 'https://example.org/res/entity/' || (doc_id % 50)
                       AS subject,
                     'org:employer' AS predicate,
                     'https://example.org/res/org/pub' || (doc_id % 7)
                       AS object,
                     DATE '2020-01-01'
                       + INTERVAL ((doc_id * 37) % 1461) DAY
                       AS valid_from,
                     DATE '2020-01-01'
                       + INTERVAL (((doc_id * 37) % 1461)
                                   + 60 + (doc_id % 5) * 45) DAY
                       AS valid_to
              FROM documents),
            a1 AS (SELECT DISTINCT subject, predicate, object,
                          1 AS fa
                   FROM facts
                   WHERE valid_from <= DATE '2021-06-01'
                     AND valid_to > DATE '2021-06-01'),
            a2 AS (SELECT DISTINCT subject, predicate, object,
                          1 AS fb
                   FROM facts
                   WHERE valid_from <= DATE '2022-06-01'
                     AND valid_to > DATE '2022-06-01')
            SELECT subject, predicate, object,
                   CASE WHEN fa IS NULL THEN 'added'
                        WHEN fb IS NULL THEN 'removed'
                        ELSE 'kept' END AS status
            FROM a1 FULL OUTER JOIN a2
              USING (subject, predicate, object)
            ORDER BY subject, object, status""",
        # constants computed with the same math.floor(math.log(...))
        # the operator uses, inlined as literals
        "events_sprt": (lambda c1, c0, up, lo: """
            WITH obs AS (
              SELECT event_type AS grp, ts, event_id,
                     CASE WHEN value > 10.0 THEN 1 ELSE 0 END AS s
              FROM events),
            walked AS (
              SELECT grp,
                     CAST(row_number() OVER (PARTITION BY grp
                       ORDER BY ts, event_id) AS BIGINT) AS n,
                     CAST(SUM(s) OVER (PARTITION BY grp
                       ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS BIGINT) AS k
              FROM obs),
            sc AS (
              SELECT grp, n, k,
                     k * (%d) + (n - k) * (%d) AS llr_micro,
                     CASE WHEN k * (%d) + (n - k) * (%d) >= %d
                          THEN 'accept_h1'
                          WHEN k * (%d) + (n - k) * (%d) <= %d
                          THEN 'accept_h0' END AS decision
              FROM walked),
            fc AS (SELECT grp, n, k, llr_micro, decision
                   FROM (SELECT *, row_number() OVER (
                           PARTITION BY grp ORDER BY n) AS rn
                         FROM sc WHERE decision IS NOT NULL)
                   WHERE rn = 1),
            un AS (SELECT grp, n, k, llr_micro,
                          'continue' AS decision
                   FROM (SELECT *, row_number() OVER (
                           PARTITION BY grp ORDER BY n DESC) AS rn
                         FROM sc) s2
                   WHERE rn = 1
                     AND grp NOT IN (SELECT grp FROM fc))
            SELECT * FROM fc UNION ALL SELECT * FROM un
            ORDER BY grp"""
            % (c1, c0, c1, c0, up, c1, c0, lo))(
            __import__("math").floor(
                __import__("math").log(0.6 / 0.4) * 1e6),
            __import__("math").floor(
                __import__("math").log(0.4 / 0.6) * 1e6),
            __import__("math").floor(
                __import__("math").log(0.95 / 0.05) * 1e6),
            __import__("math").floor(
                __import__("math").log(0.05 / 0.95) * 1e6)),
        # INDEPENDENT quadratic dominance test (the operator's
        # windowed frontier must agree with brute force)
        "train_pareto": """
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
            ORDER BY "group", id""",
        "kg_rdfstar": r"""
            WITH lines AS (
              SELECT CASE WHEN doc_id % 29 = 0
                     THEN 'malformed ' || doc_id
                     ELSE '<< ex:e' || (doc_id % 50)
                          || ' ex:worksFor ex:org' || (doc_id % 7)
                          || ' >> ex:confidence "'
                          || (doc_id % 1000) || '" .' END AS line
              FROM documents),
            px AS (
              SELECT line,
                     regexp_extract(line,
                       '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
                       1) AS s,
                     regexp_extract(line,
                       '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
                       2) AS p,
                     regexp_extract(line,
                       '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
                       3) AS o,
                     regexp_extract(line,
                       '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
                       4) AS ap,
                     regexp_extract(line,
                       '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
                       5) AS av
              FROM lines)
            SELECT CASE WHEN s <> ''
                   THEN md5(s || '|' || p || '|' || o) END AS stmt_id,
                   CASE WHEN s <> '' THEN s END AS subj,
                   CASE WHEN s <> '' THEN p END AS pred,
                   CASE WHEN s <> '' THEN o END AS obj,
                   CASE WHEN s <> '' THEN ap END AS ann_pred,
                   CASE WHEN s <> '' THEN av END AS ann_obj,
                   s <> '' AS parsed
            FROM px ORDER BY stmt_id, ann_obj, parsed""",
        "store_mor_planning": """
            WITH files AS (
              SELECT 'f' || (doc_id // 50) AS file_id,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM documents GROUP BY 1),
            ks AS (SELECT DISTINCT doc_id // 50 AS k
                   FROM documents),
            dels AS (
              SELECT 'f' || k AS file_id, (k * 7) % 40 AS n_deleted
              FROM ks WHERE (k * 7) % 40 > 0
              UNION ALL
              SELECT 'f' || k, (k * 3) % 10 FROM ks
              WHERE (k * 3) % 10 > 0),
            dm AS (SELECT file_id,
                          CAST(SUM(n_deleted) AS BIGINT) AS n_deleted
                   FROM dels GROUP BY file_id),
            base AS (SELECT f.file_id, f.n_rows,
                            CAST(COALESCE(dm.n_deleted, 0) AS BIGINT)
                              AS n_deleted
                     FROM files f LEFT JOIN dm USING (file_id))
            SELECT file_id, n_rows, n_deleted,
                   CAST(n_rows - n_deleted AS BIGINT) AS live_rows,
                   CAST(n_deleted * 1000 // n_rows AS BIGINT)
                     AS deleted_permille,
                   CASE WHEN n_deleted * 1000 // n_rows >= 300
                        THEN 'rewrite' ELSE 'keep' END AS action
            FROM base ORDER BY file_id""",
        "stats_tost": """
            WITH subj AS (
              SELECT user_id,
                     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS cohort,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1
                         ELSE 0 END) AS conv
              FROM events GROUP BY user_id),
            g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(conv) AS BIGINT) AS x
                  FROM subj GROUP BY cohort),
            a AS (SELECT cohort AS cohort_a, n AS n_a, x AS x_a
                  FROM g ORDER BY cohort LIMIT 1),
            b AS (SELECT cohort AS cohort_b, n AS n_b, x AS x_b
                  FROM g ORDER BY cohort DESC LIMIT 1),
            r AS (SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
                         CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                           AS pa,
                         CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                           AS pb
                  FROM a CROSS JOIN b),
            v AS (SELECT *,
                         pa * (1.0 - pa) / CAST(n_a AS DOUBLE)
                         + pb * (1.0 - pb) / CAST(n_b AS DOUBLE)
                           AS var
                  FROM r)
            SELECT cohort_a, cohort_b, n_a, n_b, x_a, x_b,
                   CASE WHEN var > 0 THEN
                     round(((pa - pb) + 0.1) / sqrt(var), 6) END
                     AS z_lower,
                   CASE WHEN var > 0 THEN
                     round(((pa - pb) - 0.1) / sqrt(var), 6) END
                     AS z_upper,
                   CASE WHEN var > 0 THEN
                     round(((pa - pb) + 0.1) / sqrt(var), 6)
                       > 1.644854
                     AND round(((pa - pb) - 0.1) / sqrt(var), 6)
                       < -1.644854 END AS equivalent
            FROM v""",
        "stats_srm": """
            WITH subj AS (
              SELECT user_id,
                     CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS cohort
              FROM events GROUP BY user_id),
            g AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n
                  FROM subj GROUP BY cohort),
            a AS (SELECT cohort AS cohort_a, n AS n_a FROM g
                  ORDER BY cohort LIMIT 1),
            b AS (SELECT cohort AS cohort_b, n AS n_b FROM g
                  ORDER BY cohort DESC LIMIT 1),
            r AS (SELECT cohort_a, cohort_b, n_a, n_b,
                         CAST(n_a + n_b AS DOUBLE) * 0.5 AS ea,
                         CAST(n_a + n_b AS DOUBLE)
                           - CAST(n_a + n_b AS DOUBLE) * 0.5 AS eb
                  FROM a CROSS JOIN b)
            SELECT cohort_a, cohort_b, n_a, n_b,
                   CAST(500 AS BIGINT) AS expected_a_permille,
                   round((CAST(n_a AS DOUBLE) - ea)
                         * (CAST(n_a AS DOUBLE) - ea) / ea
                         + (CAST(n_b AS DOUBLE) - eb)
                         * (CAST(n_b AS DOUBLE) - eb) / eb, 6)
                     AS chi2,
                   round((CAST(n_a AS DOUBLE) - ea)
                         * (CAST(n_a AS DOUBLE) - ea) / ea
                         + (CAST(n_b AS DOUBLE) - eb)
                         * (CAST(n_b AS DOUBLE) - eb) / eb, 6)
                     > 10.828 AS srm
            FROM r""",
    }
