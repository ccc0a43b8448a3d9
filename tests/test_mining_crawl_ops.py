"""Recrawl scheduling, URL template mining, calibration bins,
tokenizer fertility, AMIE-lite rule mining — the edge cases
(estimator clamps, all-change / no-change logs, trap ratios, bin
edges, multibyte text, PCA-vs-CWA denominators) the closed-form
driver oracles don't exercise."""

import math

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-mining-crawl", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


# ------------------------------------------------------------- recrawl

def _obs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, fetch_ts long, content_hash string")


def test_recrawl_estimator_matches_closed_form(spark):
    """4 visits, 1 change in 3 intervals of 100 s: lambda is the
    bias-corrected -ln(2.5/3.5)/100 and the wait is floor(1/lambda)
    when it sits inside the clamp window."""
    from ferenda_spark.operators.crawl import recrawl_schedule
    rows = [("u", 0, "a"), ("u", 100, "a"),
            ("u", 200, "b"), ("u", 300, "b")]
    out = recrawl_schedule(_obs(spark, rows), min_interval=10,
                           max_interval=100000).collect()
    assert len(out) == 1
    r = out[0]
    lam = -math.log((3 - 1 + 0.5) / 3.5) / 100.0
    assert r.n_visits == 4 and r.n_changes == 1
    assert r.lambda_hat == pytest.approx(lam, rel=1e-12)
    assert r.next_fetch == 300 + math.floor(1.0 / lam)


def test_recrawl_no_changes_gets_max_interval(spark):
    """X = 0 makes the estimate -ln(1) = 0: never-changing pages are
    recrawled at the lazy maximum, not immediately."""
    from ferenda_spark.operators.crawl import recrawl_schedule
    rows = [("u", 0, "a"), ("u", 50, "a"), ("u", 100, "a")]
    r = recrawl_schedule(_obs(spark, rows), min_interval=10,
                         max_interval=999).collect()[0]
    assert r.n_changes == 0
    assert r.next_fetch == 100 + 999


def test_recrawl_every_visit_changed_hits_min_clamp(spark):
    """X = n stays finite through the +0.5 correction and a very hot
    page clamps to the politeness minimum."""
    from ferenda_spark.operators.crawl import recrawl_schedule
    rows = [("u", 0, "a"), ("u", 10, "b"), ("u", 20, "c")]
    r = recrawl_schedule(_obs(spark, rows), min_interval=3600,
                         max_interval=86400).collect()[0]
    lam = -math.log(0.5 / 2.5) / 10.0
    assert r.n_changes == 2
    assert r.lambda_hat == pytest.approx(lam, rel=1e-12)
    assert r.next_fetch == 20 + 3600


def test_recrawl_single_visit_is_unknown(spark):
    from ferenda_spark.operators.crawl import recrawl_schedule
    r = recrawl_schedule(_obs(spark, [("u", 5, "a")]),
                         max_interval=777).collect()[0]
    assert r.n_visits == 1 and r.lambda_hat is None
    assert r.next_fetch == 5 + 777


def test_recrawl_same_timestamp_visits_no_division_blowup(spark):
    """last_ts == first_ts (clock-duplicate fetches) must not divide
    by zero; the URL falls back to the max interval."""
    from ferenda_spark.operators.crawl import recrawl_schedule
    rows = [("u", 100, "a"), ("u", 100, "b")]
    r = recrawl_schedule(_obs(spark, rows), max_interval=555).collect()[0]
    assert r.lambda_hat is None
    assert r.next_fetch == 100 + 555


# ------------------------------------------------------- url templates

def test_url_templates_generalizes_and_flags_traps(spark):
    from ferenda_spark.operators.crawl import url_templates
    rows = ([("https://a.com/item/%d/view" % i, "c%d" % i)
             for i in range(6)]
            + [("https://a.com/cal/2020/%d" % i, "same")
               for i in range(8)])
    df = spark.createDataFrame(rows, "url string, content_hash string")
    out = {r.template: r for r in
           url_templates(df, hash_col="content_hash").collect()}
    item = out["a.com/item/{n}/view"]
    assert item.n_urls == 6 and item.n_distinct_content == 6
    assert item.urls_per_content == pytest.approx(1.0)
    cal = out["a.com/cal/{n}/{n}"]
    assert cal.n_urls == 8 and cal.n_distinct_content == 1
    assert cal.urls_per_content == pytest.approx(8.0)
    assert cal.max_depth == 3


def test_url_templates_hex_and_short_hex(spark):
    """>= 8 hex chars collapse to {h} (even all-digit runs); shorter
    hex ids keep their letters and only the digit runs generalize."""
    from ferenda_spark.operators.crawl import url_templates
    df = spark.createDataFrame(
        [("https://h.io/doc/deadbeef42",), ("https://h.io/doc/00001234",),
         ("https://h.io/doc/abc1234",)], "url string")
    ts = {r.template for r in url_templates(df).collect()}
    assert ts == {"h.io/doc/{h}", "h.io/doc/abc{n}"}


def test_url_templates_root_and_no_hash(spark):
    from ferenda_spark.operators.crawl import url_templates
    df = spark.createDataFrame([("https://h.io",)], "url string")
    r = url_templates(df).collect()[0]
    assert r.template == "h.io/" and r.n_urls == 1
    assert r.max_depth == 0
    assert "n_distinct_content" not in r.asDict()


# --------------------------------------------------- calibration bins

def test_calibration_bins_edges_and_gap(spark):
    """score = 1.0 clamps into the top bin; empty bins are omitted;
    gap is |frac_pos - mean_score| per bin."""
    from ferenda_spark.operators.quality import calibration_bins
    rows = [(0.0, 0), (0.05, 0), (1.0, 1), (0.95, 1), (0.95, 0)]
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r.bin: r for r in calibration_bins(df, n_bins=10).collect()}
    assert set(out) == {0, 9}
    lo, hi = out[0], out[9]
    assert lo.n == 2 and lo.n_pos == 0 and lo.frac_pos == 0.0
    assert lo.mean_score == pytest.approx(0.025)
    assert lo.gap == pytest.approx(0.025)
    assert hi.n == 3 and hi.n_pos == 2
    assert hi.mean_score == pytest.approx((1.0 + 0.95 + 0.95) / 3)
    assert hi.frac_pos == pytest.approx(2 / 3)
    ece = sum(r.n * r.gap for r in out.values()) / 5
    assert ece == pytest.approx((2 * 0.025 + 3 * abs(2 / 3 - 2.9 / 3)) / 5)


# ------------------------------------------------- tokenizer fertility

def test_tokenizer_fertility_multibyte(spark):
    from ferenda_spark.operators.textstats import tokenizer_fertility
    df = spark.createDataFrame(
        [("sv", "héj på dig"), ("sv", "ö"), ("en", "a b")],
        "lang string, text string")
    out = {r.lang: r for r in tokenizer_fertility(df).collect()}
    sv = out["sv"]
    assert sv.n_docs == 2 and sv.total_tokens == 4
    assert sv.total_chars == 11  # 10 + 1
    assert sv.total_bytes == 14  # é, å, ö are 2 bytes each
    assert sv.bytes_per_token == pytest.approx(14 / 4)
    assert sv.tokens_per_1k_chars == pytest.approx(4000 / 11)
    assert out["en"].total_tokens == 2 and out["en"].total_bytes == 3


# ------------------------------------------------------- rule mining

def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_mine_rules_pca_differs_from_cwa(spark):
    """4 likes pairs, 2 with buys on the same pair; one of the two
    non-buying subjects has a buys fact on ANOTHER object, the other
    has none: CWA confidence 2/4 but PCA 2/3."""
    from ferenda_spark.operators.rules import mine_rules
    rows = [("s1", "likes", "o1"), ("s2", "likes", "o2"),
            ("s3", "likes", "o3"), ("s4", "likes", "o4"),
            ("s1", "buys", "o1"), ("s2", "buys", "o2"),
            ("s3", "buys", "other")]
    out = {(r.body_pred, r.head_pred): r
           for r in mine_rules(_triples(spark, rows)).collect()}
    r = out[("likes", "buys")]
    assert r.support == 2 and r.n_body == 4 and r.n_head == 3
    assert r.confidence == pytest.approx(0.5)
    assert r.head_coverage == pytest.approx(2 / 3)
    assert r.pca_confidence == pytest.approx(2 / 3)
    rev = out[("buys", "likes")]
    assert rev.support == 2 and rev.confidence == pytest.approx(2 / 3)


def test_mine_rules_dedups_and_filters_support(spark):
    from ferenda_spark.operators.rules import mine_rules
    rows = [("s", "a", "o"), ("s", "a", "o"), ("s", "b", "o"),
            ("x", "a", "y")]
    out = mine_rules(_triples(spark, rows), min_support=2).collect()
    assert out == []  # duplicate (s,a,o) collapses; support stays 1
    out1 = {(r.body_pred, r.head_pred): r.support
            for r in mine_rules(_triples(spark, rows)).collect()}
    assert out1 == {("a", "b"): 1, ("b", "a"): 1}


def test_rule_violations_lists_missing_heads_only(spark):
    from ferenda_spark.operators.rules import mine_rules, rule_violations
    rows = ([("s%d" % i, "likes", "o%d" % i) for i in range(10)]
            + [("s%d" % i, "buys", "o%d" % i) for i in range(9)])
    t = _triples(spark, rows)
    v = rule_violations(t, mine_rules(t), min_confidence=0.85).collect()
    likes = [r for r in v if r.body_pred == "likes"]
    assert len(likes) == 1
    assert likes[0].subj == "s9" and likes[0].head_pred == "buys"
    assert likes[0].confidence == pytest.approx(0.9)
    # buys => likes has confidence 1.0 and no violations
    assert all(r.body_pred == "likes" for r in v)


# ------------------------------------------------------------- mirrors

def _pages(spark, rows):
    return spark.createDataFrame(rows, "host string, content_hash string")


def test_mirror_hosts_template_guard_and_overlap(spark):
    """m1/m2 share 3 real hashes; the 'T' template hash is served by
    5 hosts and must be dropped at max_hosts_per_hash=4 — otherwise
    every pair gains a shared hash and the t-hosts leak in."""
    from ferenda_spark.operators.crawl import mirror_hosts
    rows = ([("m1", h) for h in ("h1", "h2", "h3", "h4")]
            + [("m2", h) for h in ("h1", "h2", "h3")]
            + [("m1", "T"), ("m2", "T"),
               ("t0", "T"), ("t1", "T"), ("t2", "T")])
    out = mirror_hosts(_pages(spark, rows), min_shared=2,
                       max_hosts_per_hash=4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.host_a, r.host_b) == ("m1", "m2")
    assert (r.n_shared, r.n_a, r.n_b) == (3, 4, 3)
    assert r.overlap == pytest.approx(1.0)


def test_mirror_hosts_min_shared_filters_singletons(spark):
    from ferenda_spark.operators.crawl import mirror_hosts
    rows = [("u", "h1"), ("v", "h1"), ("u", "h2"), ("v", "h3")]
    assert mirror_hosts(_pages(spark, rows), min_shared=2).count() == 0
    one = mirror_hosts(_pages(spark, rows), min_shared=1).collect()
    assert len(one) == 1 and one[0].overlap == pytest.approx(0.5)


# ---------------------------------------------------------- politeness

def test_politeness_ranks_offsets_and_tiebreak(spark):
    """Host queue: priority DESC, then url ASC on the tie; offsets
    step by the host's crawl delay from zero."""
    from ferenda_spark.operators.crawl import politeness_schedule
    frontier = spark.createDataFrame(
        [("a/u1", "a", 5), ("a/u2", "a", 9), ("a/u3", "a", 5),
         ("b/u1", "b", 1)],
        "url string, host string, priority long")
    delays = spark.createDataFrame([("a", 3)],
                                   "host string, crawl_delay long")
    out = {r.url: (r.rank, r.fetch_offset_s)
           for r in politeness_schedule(frontier, delays,
                                        default_delay=7).collect()}
    assert out == {"a/u2": (1, 0), "a/u1": (2, 3), "a/u3": (3, 6),
                   "b/u1": (1, 0)}


def test_politeness_no_robots_table_uses_default(spark):
    from ferenda_spark.operators.crawl import politeness_schedule
    frontier = spark.createDataFrame(
        [("a/u1", "a", 2), ("a/u2", "a", 1)],
        "url string, host string, priority long")
    out = {r.url: r.fetch_offset_s
           for r in politeness_schedule(frontier,
                                        default_delay=4).collect()}
    assert out == {"a/u1": 0, "a/u2": 4}


# -------------------------------------------------------------- reverb

def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_reverb_multiword_entities_and_positions(spark):
    from ferenda_spark.operators.extract import reverb_triples
    t = ("Mary Jane Watson works at Daily Bugle Press. "
         "Rome is located in Italy.")
    out = reverb_triples(_docs(spark, [("d", t)])).orderBy("pos").collect()
    assert [(r.pos, r.subj_text, r.rel, r.obj_text) for r in out] == [
        (0, "Mary Jane Watson", "works at", "Daily Bugle Press"),
        (1, "Rome", "is located in", "Italy")]


def test_reverb_requires_capitalized_spans(spark):
    from ferenda_spark.operators.extract import reverb_triples
    rows = [("d1", "he works at Acme."),       # lowercase subject
            ("d2", "Acme works at nothing."),  # lowercase object
            ("d3", "no relations at all here")]
    assert reverb_triples(_docs(spark, rows)).count() == 0


def test_reverb_greedy_object_span(spark):
    from ferenda_spark.operators.extract import reverb_triples
    out = reverb_triples(
        _docs(spark, [("d", "Zed is a Big Blue Widget Co.")])).collect()
    assert len(out) == 1
    assert out[0].obj_text == "Big Blue Widget Co"


# --------------------------------------------------------------- kappa

def _labels(spark, rows):
    return spark.createDataFrame(rows, "label_a string, label_b string")


def test_kappa_known_2x2(spark):
    """20 yy / 5 yn / 10 ny / 15 nn: po=0.7, pe=0.5, kappa=0.4."""
    from ferenda_spark.operators.quality import cohens_kappa
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15)
    r = cohens_kappa(_labels(spark, rows)).collect()[0]
    assert (r.n, r.n_agree) == (50, 35)
    assert r.po == pytest.approx(0.7)
    assert r.pe == pytest.approx(0.5)
    assert r.kappa == pytest.approx(0.4)


def test_kappa_perfect_and_degenerate(spark):
    from ferenda_spark.operators.quality import cohens_kappa
    perfect = [("a", "a")] * 3 + [("b", "b")] * 7
    r = cohens_kappa(_labels(spark, perfect)).collect()[0]
    assert r.po == pytest.approx(1.0) and r.kappa == pytest.approx(1.0)
    # both annotators constant: pe = 1, kappa undefined -> NULL
    r = cohens_kappa(_labels(spark, [("x", "x")] * 5)).collect()[0]
    assert r.pe == pytest.approx(1.0) and r.kappa is None


# ---------------------------------------------------------------- gini

def test_gini_uniform_is_zero(spark):
    from ferenda_spark.operators.quality import gini_concentration
    rows = spark.createDataFrame(
        [("k%d" % (i % 4),) for i in range(12)], "k string")
    r = gini_concentration(rows, "k").collect()[0]
    assert (r.n_keys, r.total) == (4, 12)
    assert r.gini == pytest.approx(0.0, abs=1e-12)


def test_gini_concentrated_matches_hand_value(spark):
    """Counts [1, 9]: G = 2*(1*1+2*9)/(2*10) - 3/2 = 0.4."""
    from ferenda_spark.operators.quality import gini_concentration
    rows = spark.createDataFrame(
        [("big",)] * 9 + [("small",)], "k string")
    r = gini_concentration(rows, "k").collect()[0]
    assert (r.n_keys, r.total) == (2, 10)
    assert r.gini == pytest.approx(0.4)


# ------------------------------------------------------------ mojibake

def test_mojibake_clean_text_scores_zero(spark):
    from ferenda_spark.operators.cleaning import mojibake_stats
    r = mojibake_stats(_docs(spark, [("d", "plain ascii text")])).collect()[0]
    assert (r.n_double_utf8, r.n_c1, r.n_replacement) == (0, 0, 0)
    assert r.mojibake_per_1k == pytest.approx(0.0)


def test_mojibake_empty_text_null_ratio(spark):
    from ferenda_spark.operators.cleaning import mojibake_stats
    r = mojibake_stats(_docs(spark, [("d", "")])).collect()[0]
    assert r.n_chars == 0 and r.mojibake_per_1k is None


def test_mojibake_lead_without_continuation_not_counted(spark):
    """A lone 'A-tilde' before an ASCII char is legitimate text
    (e.g. Portuguese 'Ã' as a word), not a double-encoding pair."""
    from ferenda_spark.operators.cleaning import mojibake_stats
    t = chr(0xC3) + " ok " + chr(0xC3) + chr(0xA9)
    r = mojibake_stats(_docs(spark, [("d", t)])).collect()[0]
    assert r.n_double_utf8 == 1


# ------------------------------------------------------------ stitching

def test_stitch_orders_pages_and_flags_gaps(spark):
    from ferenda_spark.operators.crawl import stitch_paginated
    rows = [("http://a/x?page=3", "three"), ("http://a/x", "one"),
            ("http://b/y?page=2", "b2"), ("http://b/y", "b1"),
            ("http://b/y?page=3", "b3")]
    out = {r.base_url: r for r in stitch_paginated(
        _docs(spark, rows)).collect()}
    a = out["http://a/x"]
    assert a.full_text == "one\nthree"          # page 2 missing
    assert a.has_gaps and (a.min_page, a.max_page) == (1, 3)
    b = out["http://b/y"]
    assert b.full_text == "b1\nb2\nb3" and not b.has_gaps


def test_stitch_mid_url_page_param_not_stripped(spark):
    """Only a TRAILING page param is pagination; a path named 'page'
    or a non-final param stays part of the identity."""
    from ferenda_spark.operators.crawl import stitch_paginated
    rows = [("http://a/page=2/x", "t")]
    out = stitch_paginated(_docs(spark, rows)).collect()
    assert out[0].base_url == "http://a/page=2/x"
    assert out[0].n_pages == 1 and out[0].min_page == 1


# -------------------------------------------------------------- soft404

def test_soft404_reasons_and_unprobed_host(spark):
    from ferenda_spark.operators.crawl import soft404
    pages = spark.createDataFrame(
        [("u1", "a", "ERR", "Fine title"),       # template only
         ("u2", "a", "c2", "Page Not Found"),    # title only
         ("u3", "a", "ERR", "Error 404 here"),   # both
         ("u4", "a", "c4", "Fine"),              # clean
         ("u5", "z", "ERR", "fine")],            # host without probe
        "url string, host string, content_hash string, title string")
    probes = spark.createDataFrame([("a", "ERR")],
                                   "host string, probe_hash string")
    out = {r.url: r.reason for r in soft404(pages, probes).collect()}
    assert out == {"u1": "error_template", "u2": "title", "u3": "both"}


# ----------------------------------------------------- property coverage

def test_property_coverage_multitype_and_untyped(spark):
    from ferenda_spark.operators.quality import property_coverage
    T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [("e1", T, "A"), ("e2", T, "A"), ("e2", T, "B"),
            ("e1", "name", "x"), ("e2", "name", "y"),
            ("e2", "age", "3"), ("e2", "age", "4"),   # dup (e,p) once
            ("e9", "name", "untyped ignored")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {(r.cls, r.pred): (r.n_with, r.n_entities, r.coverage)
           for r in property_coverage(t).collect()}
    assert out[("A", "name")] == (2, 2, pytest.approx(1.0))
    assert out[("A", "age")] == (1, 2, pytest.approx(0.5))
    assert out[("B", "age")] == (1, 1, pytest.approx(1.0))
    assert ("A", T) not in out  # type triples are not coverage rows


# ------------------------------------------------------------ EB shrink

def test_eb_shrinks_small_domains_toward_global(spark):
    from ferenda_spark.operators.quality import eb_domain_quality
    rows = ([("big", 0.5)] * 80            # global mean anchored at .5
            + [("lucky", 1.0)] * 2)        # tiny domain, perfect scores
    df = spark.createDataFrame(rows, "domain string, score double")
    out = {r.domain: r for r in eb_domain_quality(df, alpha=20.0).collect()}
    gm = (80 * 0.5 + 2 * 1.0) / 82.0
    assert out["lucky"].mean_score == pytest.approx(1.0)
    expected = (2 * 1.0 + 20.0 * gm) / (2 + 20.0)
    assert out["lucky"].shrunk_score == pytest.approx(expected)
    # the shrunk score sits far from the raw mean, near the prior
    assert out["lucky"].shrunk_score < 0.6


def test_eb_alpha_zero_is_raw_mean(spark):
    from ferenda_spark.operators.quality import eb_domain_quality
    df = spark.createDataFrame([("d", 0.25), ("d", 0.75)],
                               "domain string, score double")
    r = eb_domain_quality(df, alpha=0.0).collect()[0]
    assert r.shrunk_score == pytest.approx(r.mean_score) == pytest.approx(0.5)


# ----------------------------------------------------------------- RAKE

def test_rake_hand_computed_scores(spark):
    """'red apple of green pear and red apple pie': red/apple have
    deg 5 freq 2 (2.5M each), pie deg 3 freq 1 (3M), green/pear 2M --
    three phrases with distinct fixed-point scores."""
    from ferenda_spark.operators.textstats import rake_keyphrases
    t = "red apple of green pear and red apple pie"
    out = rake_keyphrases(_docs(spark, [("d", t)]), top_k=5).collect()
    rows = {r.phrase: r for r in out}
    # red: deg 2+3=5 freq 2 -> 2_500_000; apple same; pie: 3/1 -> 3M
    # green/pear: 2/1 -> 2M each
    assert rows["red apple pie"].score_micro == 8_000_000
    assert rows["red apple"].score_micro == 5_000_000
    assert rows["green pear"].score_micro == 4_000_000
    assert rows["red apple pie"].rank == 1
    assert rows["red apple"].n_occurrences == 1


def test_rake_duplicate_phrase_collapses(spark):
    from ferenda_spark.operators.textstats import rake_keyphrases
    out = rake_keyphrases(
        _docs(spark, [("d", "hot soup and hot soup")]), top_k=5).collect()
    assert len(out) == 1
    r = out[0]
    # hot: deg 4 freq 2 -> 2M; soup same; phrase = 4M, twice
    assert (r.phrase, r.n_occurrences, r.score_micro) == ("hot soup", 2, 4_000_000)


def test_rake_stopword_only_text_empty(spark):
    from ferenda_spark.operators.textstats import rake_keyphrases
    assert rake_keyphrases(
        _docs(spark, [("d", "the of and to")]), top_k=3).count() == 0


def test_rake_top_k_cuts(spark):
    from ferenda_spark.operators.textstats import rake_keyphrases
    t = "alpha of beta of gamma of delta"
    out = rake_keyphrases(_docs(spark, [("d", t)]), top_k=2).collect()
    assert len(out) == 2
    # all score 1M; alphabetical tie-break keeps alpha, beta
    assert sorted(r.phrase for r in out) == ["alpha", "beta"]


# ---------------------------------------------------------- transitions

def test_transition_matrix_orders_and_normalizes(spark):
    from ferenda_spark.operators.events import transition_matrix
    rows = [(1, "a", 10, 1), (1, "b", 20, 2), (1, "a", 30, 3),
            (1, "c", 40, 4),
            (2, "a", 10, 5), (2, "b", 20, 6),
            (3, "x", 10, 7)]                    # single event: no pair
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long")
    out = {(r.from_type, r.to_type): (r.n, r.n_from, r.p)
           for r in transition_matrix(ev).collect()}
    assert out[("a", "b")] == (2, 3, pytest.approx(2 / 3))
    assert out[("a", "c")] == (1, 3, pytest.approx(1 / 3))
    assert out[("b", "a")] == (1, 1, pytest.approx(1.0))
    assert ("x", None) not in out and len(out) == 3


def test_transition_matrix_tie_broken_by_event_id(spark):
    from ferenda_spark.operators.events import transition_matrix
    rows = [(1, "a", 10, 2), (1, "b", 10, 1)]   # same ts: b then a
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long")
    out = [(r.from_type, r.to_type) for r in transition_matrix(ev).collect()]
    assert out == [("b", "a")]


# ----------------------------------------------------- budget allocation

def test_hamilton_allocation_sums_to_budget(spark):
    from ferenda_spark.operators.crawl import allocate_crawl_budget
    h = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "host string, weight long")
    out = {r.host: r for r in allocate_crawl_budget(h, budget=7).collect()}
    # quotas: 3.5 / 2.1 / 1.4 -> bases 3/2/1, leftover 1 to 'a' (.5)
    assert out["a"].allocation == 4
    assert out["b"].allocation == 2
    assert out["c"].allocation == 1
    assert sum(r.allocation for r in out.values()) == 7


def test_hamilton_remainder_tie_host_asc(spark):
    from ferenda_spark.operators.crawl import allocate_crawl_budget
    h = spark.createDataFrame(
        [("x", 1), ("y", 1)], "host string, weight long")
    out = {r.host: r.allocation
           for r in allocate_crawl_budget(h, budget=3).collect()}
    # quotas 1.5 each -> bases 1, one leftover -> x (host ASC)
    assert out == {"x": 2, "y": 1}


# ----------------------------------------------------------------- PSI

def test_psi_identical_distributions_zero(spark):
    from ferenda_spark.operators.quality import psi_drift
    df = spark.createDataFrame([(i / 10.0,) for i in range(10)],
                               "score double")
    out = psi_drift(df, df, n_bins=10).collect()
    assert all(r.contrib == pytest.approx(0.0) for r in out)


def test_psi_empty_bin_null_and_hand_value(spark):
    import math
    from ferenda_spark.operators.quality import psi_drift
    e = spark.createDataFrame([(0.05,), (0.05,), (0.95,), (0.95,)],
                              "score double")
    a = spark.createDataFrame([(0.95,), (0.95,), (0.95,), (0.95,)],
                              "score double")
    out = {r.bin: r for r in psi_drift(e, a, n_bins=10).collect()}
    assert out[0].contrib is None and out[0].n_actual == 0
    assert out[9].contrib == pytest.approx((1.0 - 0.5) * math.log(1.0 / 0.5))


# -------------------------------------------------------- functionality

def test_predicate_functionality_values(spark):
    from ferenda_spark.operators.quality import predicate_functionality
    rows = [("s1", "name", "x"), ("s2", "name", "y"),       # functional
            ("s1", "tag", "t1"), ("s1", "tag", "t2"),
            ("s2", "tag", "t1"),
            ("s1", "tag", "t1")]                            # dup triple
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {r.pred: r for r in predicate_functionality(t).collect()}
    assert out["name"].functionality == pytest.approx(1.0)
    assert out["tag"].n_pairs == 3
    assert out["tag"].functionality == pytest.approx(2 / 3)
    assert out["tag"].inverse_functionality == pytest.approx(2 / 3)


# ---------------------------------------------------------- schema graph

def test_schema_graph_folds_literals_and_multityping(spark):
    from ferenda_spark.operators.graphs import schema_graph
    T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [("e1", T, "Person"), ("e2", T, "Person"), ("e2", T, "Agent"),
            ("c1", T, "City"),
            ("e1", "lives_in", "c1"), ("e2", "lives_in", "c1"),
            ("e1", "name", "Ann"),
            ("ghost", "name", "untyped subject dropped")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {(r.subj_cls, r.pred, r.obj_cls): r.n_triples
           for r in schema_graph(t).collect()}
    assert out[("Person", "lives_in", "City")] == 2
    assert out[("Person", "name", "<literal>")] == 1
    assert out[("Agent", "lives_in", "City")] == 1  # multi-typed e2
    assert not any(k[0] is None for k in out)


# ------------------------------------------------------------- TransE

def test_transe_rank_hand_example(spark):
    from ferenda_spark.operators.graphs import transe_rank
    ent = spark.createDataFrame(
        [("e0", [0, 0]), ("e1", [2, 2]), ("e2", [5, 5])],
        "entity string, vec array<long>")
    rel = spark.createDataFrame([("r", [2, 2])],
                                "relation string, vec array<long>")
    test = spark.createDataFrame([("e0", "r", "e1")],
                                 "subj string, pred string, obj string")
    r = transe_rank(test, ent, rel, k=1).collect()[0]
    # target = [2,2]; scores: e0->4, e1->0, e2->6 ; true e1 ranks 1st
    assert (r.true_score, r.rank, r.hit_at_k) == (0, 1, True)
    assert r.reciprocal_rank == pytest.approx(1.0)


def test_transe_rank_tie_breaks_on_entity(spark):
    from ferenda_spark.operators.graphs import transe_rank
    ent = spark.createDataFrame(
        [("e0", [0]), ("e1", [4]), ("e2", [4])],
        "entity string, vec array<long>")
    rel = spark.createDataFrame([("r", [2])],
                                "relation string, vec array<long>")
    test = spark.createDataFrame([("e0", "r", "e2")],
                                 "subj string, pred string, obj string")
    r = transe_rank(test, ent, rel, k=10).collect()[0]
    # scores vs target [2]: e0->2, e1->2, e2->2; all tie -> smaller
    # entity strings e0, e1 rank ahead of true e2
    assert r.rank == 3


# -------------------------------------------------------- length buckets

def test_length_buckets_edges_and_cap(spark):
    from ferenda_spark.operators.training import length_buckets
    rows = [("",), ("one two three",), (" ".join(["w"] * 64),),
            (" ".join(["w"] * 2000),)]
    df = spark.createDataFrame(rows, "text string")
    out = {r.bucket: r for r in length_buckets(df).collect()}
    assert out[0].n_docs == 2           # empty (0 tokens) + 3 tokens
    assert out[0].max_tokens == 3
    assert out[0].padding_frac == pytest.approx(1.0 - 3 / 6)
    assert out[1].n_docs == 1           # 64 tokens -> bucket 1
    assert out[15].n_docs == 1          # 2000 tokens capped at 15


# --------------------------------------------------------- compression

def test_compression_ratio_matches_local_zlib(spark):
    import zlib
    from ferenda_spark.operators.cleaning import compression_ratio
    texts = [("u1", "abab" * 100), ("u2", "entropyless"), ("u3", "")]
    df = spark.createDataFrame(texts, "url string, text string")
    out = {r.url: r for r in compression_ratio(df).collect()}
    for u, t in texts:
        raw = t.encode("utf-8")
        assert out[u].n_bytes == len(raw)
        assert out[u].n_compressed == len(zlib.compress(raw, 6))
    assert out["u1"].ratio < 0.1        # highly repetitive
    assert out["u3"].ratio is None      # empty


def test_compression_ratio_null_text_and_null_id(spark):
    """A NULL text gives NULL sizes and ratio (not the 4-byte string
    "None"), and a NULL id stays NULL."""
    import zlib
    from ferenda_spark.operators.cleaning import compression_ratio
    df = spark.createDataFrame([("u1", None), (None, "abc")],
                               "url string, text string")
    got = {(r.url, r.n_bytes, r.n_compressed, r.ratio)
           for r in compression_ratio(df).collect()}
    nc = len(zlib.compress(b"abc", 6))
    assert got == {("u1", None, None, None), (None, 3, nc, nc / 3)}


# -------------------------------------------------------- inverse rules

def test_inverse_rules_finds_inverses_not_symmetry(spark):
    from ferenda_spark.operators.rules import mine_inverse_rules
    rows = ([("a%d" % i, "parent_of", "b%d" % i) for i in range(10)]
            + [("b%d" % i, "child_of", "a%d" % i) for i in range(8)]
            + [("x", "knows", "y"), ("y", "knows", "x")])
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {(r.body_pred, r.head_pred): r
           for r in mine_inverse_rules(t).collect()}
    assert out[("parent_of", "child_of")].support == 8
    assert out[("parent_of", "child_of")].confidence == pytest.approx(0.8)
    assert out[("child_of", "parent_of")].confidence == pytest.approx(1.0)
    assert not any(b == h for b, h in out)          # knows excluded


# -------------------------------------------------------------- rocchio

def test_rocchio_expands_with_cooccurring_terms(spark):
    from ferenda_spark.operators.search import rocchio_expansion
    docs = spark.createDataFrame(
        [(1, "spark shuffle partition tuning"),
         (2, "spark shuffle skew salting"),
         (3, "gardening tips tomato")],
        "doc_id long, text string")
    needs = spark.createDataFrame([("q", "spark")],
                                  "query string, term string")
    out = rocchio_expansion(docs, needs, top_docs=2,
                            top_terms=2).collect()
    terms = {r.term for r in out}
    assert "shuffle" in terms                 # tf 2 in feedback
    assert "spark" not in terms               # original query term
    assert "tomato" not in terms              # not in feedback set
    top = [r.term for r in sorted(out, key=lambda r: r.rank)]
    assert top[0] == "shuffle"


def test_rocchio_df_breaks_tf_ties(spark):
    """Equal feedback tf: the corpus-rarer term ranks first."""
    from ferenda_spark.operators.search import rocchio_expansion
    docs = spark.createDataFrame(
        [(1, "anchor rare common"),
         (2, "common filler"), (3, "common again")],
        "doc_id long, text string")
    needs = spark.createDataFrame([("q", "anchor")],
                                  "query string, term string")
    out = sorted(rocchio_expansion(docs, needs, top_docs=1,
                                   top_terms=2).collect(),
                 key=lambda r: r.rank)
    assert [r.term for r in out] == ["rare", "common"]
    assert out[0].df == 1 and out[1].df == 3


# ------------------------------------------------------- type inference

def test_infer_types_votes_and_tiebreak(spark):
    from ferenda_spark.operators.quality import infer_types
    T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = ([("p%d" % i, T, "Person") for i in range(4)]
            + [("p%d" % i, "works_at", "o") for i in range(4)]
            + [("o", T, "Org"), ("o", "located_in", "c")]
            + [("u1", "works_at", "o2"), ("u2", "located_in", "c2")])
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {r.entity: r for r in infer_types(t).collect()}
    assert out["u1"].inferred_cls == "Person"
    assert out["u1"].score_micro == 1_000_000  # works_at is all-Person
    assert out["u2"].inferred_cls == "Org"
    assert "p0" not in out                     # typed entities excluded


# ----------------------------------------------------------- bot timing

def test_bot_signals_metronome_vs_human(spark):
    from ferenda_spark.operators.events import bot_signals
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = []
    # bot: exactly every 60 s
    for k in range(6):
        rows.append((1, base + dt.timedelta(seconds=60 * k), k))
    # human: irregular gaps 10/300/20/500/90 s
    offs = [0, 10, 310, 330, 830, 920]
    for k, o in enumerate(offs):
        rows.append((2, base + dt.timedelta(seconds=o), 100 + k))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long")
    out = {r.user_id: r for r in bot_signals(ev, min_events=5).collect()}
    bot, human = out[1], out[2]
    assert bot.n_distinct_gaps == 1
    assert bot.cv2 == pytest.approx(0.0)
    assert bot.mean_gap_us == pytest.approx(60_000_000.0)
    assert human.cv2 > 0.5 and human.n_distinct_gaps == 5


def test_bot_signals_min_events_filter(spark):
    from ferenda_spark.operators.events import bot_signals
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(seconds=k), k) for k in range(3)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long")
    assert bot_signals(ev, min_events=5).count() == 0


# -------------------------------------------------------- rel canonical

def test_rel_canonical_excludes_self_and_flags_missing(spark):
    from ferenda_spark.operators.crawl import rel_canonical
    tag = '<link rel="canonical" href="%s">'
    pages = spark.createDataFrame(
        [("http://a/1", "<head>%s</head>" % (tag % "http://a/m")),
         ("http://a/2", "<head>%s</head>" % (tag % "http://a/m")),
         ("http://a/m", "<head>%s</head>" % (tag % "http://a/m")),  # self
         ("http://a/3", "<head>%s</head>" % (tag % "http://a/gone")),
         ("http://a/4", "<head>no tag</head>")],
        "url string, html string")
    out = {r.canonical_url: r for r in rel_canonical(pages).collect()}
    assert out["http://a/m"].n_variants == 2
    assert out["http://a/m"].target_in_corpus
    assert out["http://a/gone"].n_variants == 1
    assert not out["http://a/gone"].target_in_corpus
    assert len(out) == 2


# --------------------------------------------------------- lang outliers

def test_lang_outliers_majority_and_purity(spark):
    from ferenda_spark.operators.cleaning import lang_outliers
    rows = ([("h1", "sv")] * 8 + [("h1", "en")] * 2
            + [("h2", "en")] * 3)
    df = spark.createDataFrame(rows, "host string, lang string")
    out = {(r.host, r.lang): r for r in lang_outliers(df).collect()}
    assert out[("h1", "sv")].is_outlier is False
    assert out[("h1", "en")].is_outlier is True
    assert out[("h1", "en")].purity == pytest.approx(0.8)
    assert out[("h2", "en")].purity == pytest.approx(1.0)


def test_lang_outliers_count_tie_breaks_on_lang(spark):
    from ferenda_spark.operators.cleaning import lang_outliers
    df = spark.createDataFrame([("h", "sv"), ("h", "en")],
                               "host string, lang string")
    out = {r.lang: r for r in lang_outliers(df).collect()}
    assert out["en"].majority_lang == "en"    # tie -> lang ASC
    assert out["sv"].is_outlier is True
