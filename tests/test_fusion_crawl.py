"""Unit tests for the round-4 continuation operators: knowledge
fusion, crawl-graph programs (redirects / robots / anchors), interval
coalescing, BFS, sorted-neighborhood blocking, negative sampling and
PMI collocations — the edge semantics the planted oracle corpus does
not exercise (cycles, ties, gaps, truncation, filtering)."""

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-fusion", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


# ------------------------------------------------------------ fusion

def _claims(spark, rows):
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "source string")


def _weights(spark, rows):
    return spark.createDataFrame(rows, "source string, weight long")


def test_fact_fusion_weight_beats_count(spark):
    from ferenda_spark.operators.fusion import fact_fusion
    claims = _claims(spark, [
        ("e1", "p", "right", "trusted"),
        ("e1", "p", "wrong", "a"), ("e1", "p", "wrong", "b"),
    ])
    w = _weights(spark, [("trusted", 5), ("a", 1), ("b", 1)])
    got = fact_fusion(claims, w).collect()
    assert len(got) == 1
    assert got[0].object == "right" and got[0].support == 5
    assert got[0].n_sources == 1


def test_fact_fusion_tie_breaks_lexicographic(spark):
    from ferenda_spark.operators.fusion import fact_fusion
    claims = _claims(spark, [
        ("e1", "p", "zebra", "a"), ("e1", "p", "apple", "b"),
    ])
    w = _weights(spark, [("a", 2), ("b", 2)])
    assert fact_fusion(claims, w).collect()[0].object == "apple"


def test_fact_fusion_dedups_repeated_source_claims(spark):
    from ferenda_spark.operators.fusion import fact_fusion
    claims = _claims(spark, [
        ("e1", "p", "spam", "a"), ("e1", "p", "spam", "a"),
        ("e1", "p", "spam", "a"), ("e1", "p", "ham", "b"),
    ])
    w = _weights(spark, [("a", 1), ("b", 2)])
    assert fact_fusion(claims, w).collect()[0].object == "ham"


def test_source_accuracy_integer_ppm(spark):
    from ferenda_spark.operators.fusion import fact_fusion, source_accuracy
    claims = _claims(spark, [
        ("e1", "p", "v1", "good"), ("e2", "p", "v2", "good"),
        ("e3", "p", "v3", "good"),
        ("e1", "p", "v1", "meh"), ("e2", "p", "x", "meh"),
        ("e3", "p", "y", "meh"),
    ])
    w = _weights(spark, [("good", 3), ("meh", 1)])
    fused = fact_fusion(claims, w)
    acc = {r.source: r for r in source_accuracy(claims, fused).collect()}
    assert acc["good"].accuracy_ppm == 1_000_000
    assert acc["meh"].n_matching == 1 and acc["meh"].n_claims == 3
    assert acc["meh"].accuracy_ppm == 333_333  # floor, not round


# ---------------------------------------------------------- redirects

def _redirects(spark, pairs):
    return spark.createDataFrame(pairs, "src_url string, dst_url string")


def test_redirects_chain_resolves_with_hops(spark):
    from ferenda_spark.operators.crawl import resolve_redirects
    chain = [("u%d" % i, "u%d" % (i + 1)) for i in range(5)]  # u0..u5
    got = {r.src_url: r for r in
           resolve_redirects(_redirects(spark, chain),
                             max_doubling=3).collect()}
    assert got["u0"].final_url == "u5" and got["u0"].hops == 5
    assert got["u4"].final_url == "u5" and got["u4"].hops == 1
    assert all(r.resolved for r in got.values())


def test_redirects_cycle_reported_unresolved(spark):
    from ferenda_spark.operators.crawl import resolve_redirects
    got = {r.src_url: r for r in
           resolve_redirects(_redirects(
               spark, [("a", "b"), ("b", "a"), ("c", "d")]),
               max_doubling=3).collect()}
    assert not got["a"].resolved and not got["b"].resolved
    assert got["c"].resolved and got["c"].final_url == "d"


# ------------------------------------------------------------ robots

def test_robots_longest_match_and_tie(spark):
    from ferenda_spark.operators.crawl import robots_allowed
    rules = spark.createDataFrame(
        [("h.org", "/a", False), ("h.org", "/a/b", True),
         ("h.org", "/t/", False), ("h.org", "/t/", True)],
        "host string, path_prefix string, allow boolean")
    urls = spark.createDataFrame(
        [("https://h.org/a/x",), ("https://h.org/a/b/x",),
         ("https://h.org/t/x",), ("https://h.org/free",),
         ("https://other.org/a/x",)], "url string")
    got = {r.url: r for r in robots_allowed(urls, rules).collect()}
    assert not got["https://h.org/a/x"].allowed          # /a disallow
    assert got["https://h.org/a/b/x"].allowed            # longer wins
    assert got["https://h.org/t/x"].allowed              # tie -> allow
    assert got["https://h.org/free"].allowed             # no match
    assert got["https://other.org/a/x"].allowed          # no host rules
    assert got["https://other.org/a/x"].rule_prefix == ""


# ----------------------------------------------------------- anchors

def test_anchor_links_walks_dom(spark):
    import datetime
    from ferenda_spark.operators.crawl import anchor_links
    html = ("<html><body><p><a href='/x'>Go  <b>there</b></a>"
            "<a href='/y'>two</a><a href='/x'>dup ignored</a>"
            "</p></body></html>")
    pages = spark.createDataFrame(
        [("u", datetime.datetime(2024, 1, 1), html.encode(), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    got = sorted(anchor_links(pages).collect(), key=lambda r: r.position)
    assert [(r.href, r.anchor) for r in got] == [
        ("/x", "Go there"), ("/y", "two")]


def test_anchor_profile_majority_tie_asc(spark):
    from ferenda_spark.operators.crawl import anchor_text_profile
    links = spark.createDataFrame(
        [(1, "beta"), (1, "alpha"), (2, "x"), (2, "x"), (2, "y")],
        "target long, anchor string")
    got = {r.target: r for r in
           anchor_text_profile(links, "target").collect()}
    assert got[1].top_anchor == "alpha" and got[1].n_inlinks == 2
    assert got[2].top_anchor == "x" and got[2].n_anchor_texts == 2


# ---------------------------------------------------------- intervals

def test_coalesce_intervals_islands(spark):
    from ferenda_spark.operators.temporal import coalesce_intervals
    iv = spark.createDataFrame(
        [("e", 1, 5), ("e", 3, 7),    # overlap -> merge
         ("e", 7, 9),                 # touching -> merge
         ("e", 11, 12),               # gap -> new island
         ("f", 2, 3)],
        "entity string, valid_from long, valid_to long")
    got = sorted(coalesce_intervals(iv, "entity").collect(),
                 key=lambda r: (r.entity, r.valid_from))
    assert [(r.entity, r.valid_from, r.valid_to, r.n_merged)
            for r in got] == [
        ("e", 1, 9, 3), ("e", 11, 12, 1), ("f", 2, 3, 1)]


def test_coalesce_contained_interval(spark):
    from ferenda_spark.operators.temporal import coalesce_intervals
    iv = spark.createDataFrame(
        [("e", 1, 10), ("e", 2, 3), ("e", 4, 20)],
        "entity string, valid_from long, valid_to long")
    got = coalesce_intervals(iv, "entity").collect()
    assert [(r.valid_from, r.valid_to, r.n_merged)
            for r in got] == [(1, 20, 3)]


# --------------------------------------------------------------- BFS

def test_bfs_min_distance_and_truncation(spark):
    from ferenda_spark.operators.graphs import bfs_distances
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 3)],
        "doc_a long, doc_b long")
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    got = {r.node: r.dist for r in
           bfs_distances(edges, seeds, max_hops=2).collect()}
    # 3 is 2 hops from seed 1 but 1 hop from seed 10 -> min wins
    assert got == {1: 0, 10: 0, 2: 1, 3: 1, 4: 2}
    # 5 is 3 hops -> beyond max_hops, absent


# ------------------------------------------------ sorted neighborhood

def test_sorted_neighborhood_window_and_passes(spark):
    from ferenda_spark.operators.linking import sorted_neighborhood_pairs
    df = spark.createDataFrame(
        [(1, "aaaa1", "k1"), (2, "aaaa2", "k2"),
         (3, "aaaa3", "k9"), (4, "bbbb1", "k3")],
        "doc_id long, ka string, kb string")
    got = {(r.id_a, r.id_b): r.n_passes
           for r in sorted_neighborhood_pairs(
               df, [("a", F.col("ka")), ("b", F.col("kb"))],
               window=2, block_chars=4).collect()}
    # pass a: block 'aaaa' ranks 1,2,3 -> (1,2), (2,3); 4 alone
    # pass b: all in distinct 'k...' ranks under block 'k1'? no --
    # block = first 4 chars of kb = 'k1'/'k2'/'k9'/'k3' (len 2) so
    # every kb is its own block -> no pairs from pass b except none
    assert got == {(1, 2): 1, (2, 3): 1}


def test_sorted_neighborhood_multi_pass_union(spark):
    from ferenda_spark.operators.linking import sorted_neighborhood_pairs
    df = spark.createDataFrame(
        [(1, "aax", "zz1"), (2, "aay", "zz2")],
        "doc_id long, ka string, kb string")
    got = sorted_neighborhood_pairs(
        df, [("a", F.col("ka")), ("b", F.col("kb"))],
        window=2, block_chars=2).collect()
    assert [(r.id_a, r.id_b, r.n_passes) for r in got] == [(1, 2, 2)]


# --------------------------------------------------- negative samples

def test_kg_negatives_match_pure_python_lcg(spark):
    from ferenda_spark.operators.training import (
        NEG_LCG_A, NEG_LCG_C, NEG_LCG_M, kg_negative_samples)
    pos = spark.createDataFrame(
        [(7, 3), (8, 1)], "example_id long, pos_entity long")
    got = {(r.example_id, r.sample_idx): r.neg_entity
           for r in kg_negative_samples(pos, n_entities=5,
                                        k=2).collect()}
    for ex, pe in [(7, 3), (8, 1)]:
        for i in (1, 2):
            want = ((NEG_LCG_A * (ex * 3 + i) + NEG_LCG_C)
                    % NEG_LCG_M) % 5
            if want == pe:
                assert (ex, i) not in got  # filtered false negative
            else:
                assert got[(ex, i)] == want


def test_kg_negatives_filters_global_positives(spark):
    from ferenda_spark.operators.training import kg_negative_samples
    # every entity 0..4 is a positive tail for example 1 -> all draws
    # are false negatives and must be filtered out
    pos = spark.createDataFrame(
        [(1, e) for e in range(5)], "example_id long, pos_entity long")
    assert kg_negative_samples(pos, n_entities=5, k=2) \
        .where(F.col("example_id") == 1).count() == 0


# ---------------------------------------------------------------- PMI

def test_pmi_bigrams_hand_counts(spark):
    from ferenda_spark.operators.textstats import pmi_bigrams
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c c")],
        "doc_id long, text string")
    got = {(r.w1, r.w2): r for r in
           pmi_bigrams(docs, min_count=2, top_n=10).collect()}
    # bigrams: (a,b) x3, (b,a) x1, (b,c) x1, (c,c) x1
    assert set(got) == {("a", "b")}  # min_count=2 filters the rest
    r = got[("a", "b")]
    assert (r.n_xy, r.n_left, r.n_right) == (3, 3, 3)
    assert int(r.pmi_scaled) == 3 * 10**12 // 9


# ------------------------------------------------------------ sitemaps

def test_sitemap_parses_namespaced_and_sparse_entries(spark):
    from ferenda_spark.operators.crawl import sitemap_entries
    xml = (b'<?xml version="1.0"?>'
           b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
           b'<url><loc>https://a/1</loc><lastmod>2024-01-02</lastmod>'
           b'<priority>0.7</priority></url>'
           b'<url><loc> https://a/2 </loc></url>'   # no lastmod/priority
           b'<url><lastmod>2024-01-03</lastmod></url>'  # no loc: skipped
           b'<url><loc>https://a/3</loc><priority>1.0</priority></url>'
           # not a number in [0, 1]: NULL priority, entry kept
           b'<url><loc>https://a/4</loc><priority>high</priority></url>'
           b'<url><loc>https://a/5</loc><priority>1.5</priority></url>'
           b'</urlset>')
    df = spark.createDataFrame([(xml,)], "xml binary")
    got = sorted(sitemap_entries(df).collect(), key=lambda r: r.loc)
    assert [(r.loc, r.lastmod, r.priority_tenths) for r in got] == [
        ("https://a/1", "2024-01-02", 7), ("https://a/2", None, None),
        ("https://a/3", None, 10), ("https://a/4", None, None),
        ("https://a/5", None, None)]


def test_sitemap_malformed_or_non_utf8_file_yields_no_rows(spark):
    """One broken sitemap file drops its own entries; the good files
    around it still parse and the job does not fail."""
    from ferenda_spark.operators.crawl import sitemap_entries
    good = (b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            b'<url><loc>https://a/%d</loc></url></urlset>')
    df = spark.createDataFrame(
        [(good % 1,), (b"<urlset><url><loc>https://a/x</loc>",),
         (b"<urlset>\xff\xfe</urlset>",), (good % 2,)], "xml binary")
    got = sorted(r.loc for r in sitemap_entries(df).collect())
    assert got == ["https://a/1", "https://a/2"]


# ------------------------------------------------------------ frontier

def test_frontier_interleaves_hosts(spark):
    from ferenda_spark.operators.crawl import frontier_schedule
    urls = spark.createDataFrame(
        [("https://a.org/%d" % i,) for i in range(4)]
        + [("https://b.org/%d" % i,) for i in range(2)], "url string")
    got = sorted(frontier_schedule(urls).collect(), key=lambda r: r.slot)
    # slots are unique and same-host fetches are n_hosts=2 apart
    slots = [r.slot for r in got]
    assert len(set(slots)) == len(slots)
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r.slot)
    for host_slots in by_host.values():
        assert all(b - a == 2 for a, b in
                   zip(host_slots, host_slots[1:]))


# ------------------------------------------------------------ contexts

def test_mention_contexts_clip_at_edges(spark):
    from ferenda_spark.operators.extract import mention_contexts
    mentions = spark.createDataFrame(
        [("u", "k", 2, 5, "bcd"), ("u", "k", 8, 10, "ij")],
        "url string, kind string, start int, end int, anchor string")
    docs = spark.createDataFrame([("u", "abcdefghij")],
                                 "url string, text string")
    got = {r.start: r.context for r in
           mention_contexts(mentions, docs, before=3, after=3).collect()}
    assert got[2] == "abcdefgh"   # window clipped at text start
    assert got[8] == "fghij"      # window clipped at text end


# ---------------------------------------------------------- reification

def test_reify_statements_idempotent_skolem(spark):
    from ferenda_spark.operators.triples import reify_statements
    t = spark.createDataFrame(
        [("s", "p", "o", None, None, "ctx1"),
         ("s", "p", "o", None, None, "ctx1")],   # same triple twice
        "subj string, pred string, obj string, obj_datatype string, "
        "obj_lang string, context string")
    got = reify_statements(t).collect()
    assert len(got) == 10                        # 5 rows per input row
    assert len({r.stmt_uri for r in got}) == 1   # same skolem id
    preds = sorted({r.pred for r in got})
    assert "http://purl.org/dc/terms/source" in preds
    assert any(p.endswith("#Statement") for p in
               {r.obj for r in got})


def test_pred_cooccurrence_counts_shared_subjects(spark):
    from ferenda_spark.operators.triples import pred_cooccurrence
    t = spark.createDataFrame(
        [("s1", "a", "x"), ("s1", "b", "y"), ("s1", "b", "z"),
         ("s2", "a", "x"), ("s2", "b", "x"), ("s3", "a", "x")],
        "subj string, pred string, obj string")
    got = pred_cooccurrence(t).collect()
    assert [(r.pred_a, r.pred_b, r.n_subjects) for r in got] == [
        ("a", "b", 2)]


# ---------------------------------------------------------- allocation

def _alloc(spark, avail, weights, budget):
    from ferenda_spark.operators.training import token_budget_allocation
    a = spark.createDataFrame(avail, "source string, avail_tokens long")
    w = spark.createDataFrame(weights, "source string, weight long")
    return {r.source: r.alloc_tokens
            for r in token_budget_allocation(a, w, budget).collect()}


def test_token_budget_redistributes_capped_share(spark):
    # equal weights, budget 100: proportional = 50/50, but a has only
    # 10 -> its unused 40 flows to b (capped at b's availability)
    got = _alloc(spark, [("a", 10), ("b", 1000)],
                 [("a", 1), ("b", 1)], 100)
    assert got == {"a": 10, "b": 90}


def test_token_budget_all_capped_leaves_residue(spark):
    got = _alloc(spark, [("a", 10), ("b", 20)],
                 [("a", 1), ("b", 1)], 100)
    assert got == {"a": 10, "b": 20}  # nothing to redistribute into


def test_token_budget_uncapped_proportional(spark):
    got = _alloc(spark, [("a", 1000), ("b", 1000)],
                 [("a", 3), ("b", 1)], 100)
    assert got == {"a": 75, "b": 25}


# ------------------------------------------------------- cluster keep

def test_cluster_representatives_quality_then_id(spark):
    from ferenda_spark.operators.dedup import cluster_representatives
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)],
        "doc_id long, canonical_doc_id long")
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (9, 5)],
        "doc_id long, n_chars long")
    got = {r.cluster_id: r for r in
           cluster_representatives(clusters, docs).collect()}
    assert got[1].kept_doc_id == 2          # quality tie -> lowest id
    assert got[1].kept_quality == 300 and got[1].n_members == 3
    assert got[9].kept_doc_id == 9 and got[9].n_members == 1
