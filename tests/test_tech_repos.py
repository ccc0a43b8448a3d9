"""PEP + ECMA tech-repo instances (reference sources/tech/pep.py
config + PEP 1 preamble grammar; sources/tech/ecma.py config):
header distillation edge cases and catalog extraction."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tech-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _triples(spark, basefile, text):
    from ferenda_spark.operators.tech import pep_triples
    df = spark.createDataFrame([(basefile, text)],
                               "basefile string, text string")
    return {(r.pred, r.obj) for r in pep_triples(df).collect()}


def test_pep_full_preamble(spark):
    t = _triples(spark, "8",
                 "PEP: 8\nTitle: Style Guide for Python Code\n"
                 "Author: Guido van Rossum, Barry Warsaw\n"
                 "Status: Active\nType: Process\n"
                 "Created: 5-Jul-2001\n\nIntroduction...")
    assert ("http://purl.org/dc/terms/title",
            "Style Guide for Python Code") in t
    assert ("http://purl.org/dc/terms/creator", "Guido van Rossum") in t
    assert ("http://purl.org/dc/terms/creator", "Barry Warsaw") in t
    assert ("http://purl.org/dc/terms/issued", "2001-07-05") in t
    assert ("http://purl.org/dc/terms/identifier", "PEP 8") in t
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://xmlns.com/foaf/0.1/Document") in t


def test_pep_headers_only_from_preamble_not_body(spark):
    # a "Title:" line AFTER the first blank line is body text, not a
    # header — the preamble slice must stop at the blank line
    t = _triples(spark, "1",
                 "PEP: 1\nTitle: Real Title\n\n"
                 "Title: Fake title inside the body\n")
    titles = {o for p, o in t if p.endswith("/title")}
    assert titles == {"Real Title"}


def test_pep_missing_optional_headers(spark):
    # no Author/Created/Status: their triples are simply absent,
    # the mandatory typing + identifier still emit
    t = _triples(spark, "9999", "PEP: 9999\nTitle: Sparse\n\nBody")
    preds = {p for p, _ in t}
    assert "http://purl.org/dc/terms/creator" not in preds
    assert "http://purl.org/dc/terms/issued" not in preds
    assert ("http://purl.org/dc/terms/title", "Sparse") in t


def test_pep_malformed_created_no_issued(spark):
    t = _triples(spark, "2", "PEP: 2\nTitle: X\nCreated: someday\n\n.")
    assert not any(p.endswith("/issued") for p, _ in t)


def test_ecma_catalog_extraction(spark):
    from ferenda_spark.operators.tech import ecma_standards
    pages = spark.createDataFrame(
        [("ECMA-262 is ECMAScript; ECMA-262 again, plus ECMA-404.",),
         ("nothing here",), ("trailing ECMA-404 mention",)],
        "text string")
    rows = {r.basefile: r for r in ecma_standards(pages).collect()}
    assert set(rows) == {"262", "404"}
    assert rows["262"].n_mentions == 2
    assert rows["404"].n_mentions == 2
    assert rows["262"].doc_url == ("http://www.ecma-international.org/"
                                   "publications/standards/Ecma-262.htm")
    assert rows["404"].rdf_type == \
        "http://purl.org/ontology/bibo/Standard"


# ------------------------------------------------- video headers (r5)

def test_mp4_mvhd_v1_and_largesize():
    from ferenda_spark.operators.multimodal import mp4_meta_bytes
    import struct
    # mvhd version 1: 64-bit times/duration, timescale still u32
    mvhd = struct.pack(">I4s", 120, b"mvhd") + b"\x01\x00\x00\x00" \
        + b"\x00" * 16 + struct.pack(">I", 600) \
        + struct.pack(">Q", 1200) + b"\x00" * 80
    moov = struct.pack(">I4s", 8 + len(mvhd), b"moov") + mvhd
    blob = struct.pack(">I4s8s", 16, b"ftyp", b"isom\x00\x00\x00\x00") + moov
    m = mp4_meta_bytes(blob)
    assert m["timescale"] == 600
    assert m["duration_ms"] == 1200 * 1000 // 600


def test_mp4_truncated_empty_header_box_is_skipped():
    """A blob truncated right after a bare 8-byte mvhd or tkhd header
    must not raise (an IndexError would fail the whole video_meta
    task): the empty box is skipped."""
    from ferenda_spark.operators.multimodal import mp4_meta_bytes
    import struct

    def box(typ, body=b""):
        return struct.pack(">I4s", 8 + len(body), typ) + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x00\x00")
    assert mp4_meta_bytes(ftyp + box(b"moov", box(b"mvhd"))) is None
    # version-0 mvhd: version/flags, two u32 times, timescale, duration
    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 5000))
    m = mp4_meta_bytes(ftyp + box(b"moov", mvhd
                                  + box(b"trak", box(b"tkhd"))))
    assert (m["timescale"], m["duration_ms"]) == (1000, 5000)
    assert (m["width"], m["height"]) == (0, 0)


def test_mp4_rejects_non_bmff():
    from ferenda_spark.operators.multimodal import mp4_meta_bytes
    assert mp4_meta_bytes(b"") is None
    assert mp4_meta_bytes(b"RIFF....WAVE....") is None
    assert mp4_meta_bytes(b"\x00" * 64) is None


def test_webm_unknown_size_segment_and_f64_duration():
    from ferenda_spark.operators.multimodal import webm_meta_bytes
    import struct
    # streamed files use the all-ones 'unknown size' vint for Segment
    info = (bytes.fromhex("2ad7b1") + b"\x84"
            + struct.pack(">I", 1000000)
            + bytes.fromhex("4489") + b"\x88"
            + struct.pack(">d", 2500.0))
    info_el = bytes.fromhex("1549a966") + bytes([0x80 | len(info)]) + info
    blob = (bytes.fromhex("1a45dfa3") + b"\x80"
            + bytes.fromhex("18538067") + b"\xff" + info_el)
    m = webm_meta_bytes(blob)
    assert m["duration_ms"] == 2500
    assert m["container"] == "webm"


def test_webm_rejects_garbage_and_truncation():
    from ferenda_spark.operators.multimodal import webm_meta_bytes
    assert webm_meta_bytes(b"") is None
    assert webm_meta_bytes(b"\x1a\x45\xdf") is None        # short magic
    # magic alone with nothing parseable after -> no metadata
    assert webm_meta_bytes(bytes.fromhex("1a45dfa3") + b"\x80") is None


# ------------------------------------- hashed linear classifier (r5)

def test_hashed_classifier_scores_and_threshold(spark):
    from ferenda_spark.operators.textstats import hashed_classifier_score
    from ferenda_spark.operators.training import portable_bucket
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "   ")],
        "doc_id long, text string")
    # weight table: bucket(alpha) -> +500, bucket(beta) -> -100,
    # everything else absent (scores 0 via the left join)
    import hashlib
    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
    weights = spark.createDataFrame(
        [(bucket("alpha"), 500), (bucket("beta"), -100)],
        "bucket long, weight_milli long")
    rows = {r.doc_id: r for r in hashed_classifier_score(
        docs, weights, bias_milli=10, threshold_milli=300).collect()}
    # doc 1: mean of (500, -100, 500) = 900 div 3 = 300; +10 bias
    assert rows[1].n_tokens == 3
    assert rows[1].score_milli == 310 and rows[1].keep
    # empty / whitespace-only docs: bare bias, not dropped
    for d in (2, 3):
        assert rows[d].n_tokens == 0
        assert rows[d].score_milli == 10 and not rows[d].keep


def test_hashed_classifier_negative_mean_truncates_like_sql(spark):
    from ferenda_spark.operators.textstats import hashed_classifier_score
    import hashlib
    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
    docs = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    weights = spark.createDataFrame(
        [(bucket("x"), -7), (bucket("y"), 0)],
        "bucket long, weight_milli long")
    r = hashed_classifier_score(docs, weights).collect()[0]
    # -7 div 2 truncates toward zero (= -3) in BOTH Spark and DuckDB
    assert r.score_milli == -3


# --------------------------------------------- OPIC frontier (r5)

def test_opic_cash_conserved_and_dangling_holds(spark):
    from ferenda_spark.operators.crawl import opic_priorities
    # a -> b -> c, c dangling: after enough rounds all cash pools at c
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rows = {r.node: r for r in
            opic_priorities(edges, rounds=5,
                            total_cash=300).collect()}
    # init 100 each; cash conservation holds every round exactly
    assert sum(r.cash for r in rows.values()) == 300
    assert rows[3].out_degree == 0
    assert rows[3].cash == 300          # dangling sink pools all cash
    # history records everything the non-dangling pages distributed
    assert rows[1].history == 100       # distributed its init once
    assert rows[2].history == 200       # its init + everything from 1


def test_opic_remainder_stays_with_page(spark):
    from ferenda_spark.operators.crawl import opic_priorities
    # one page, two outlinks, odd cash: share = 50 each, 1 stays
    edges = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    rows = {r.node: r for r in
            opic_priorities(edges, rounds=1,
                            total_cash=303).collect()}
    # init 101 each; node 1 pays 2*50, keeps 1
    assert rows[1].cash == 1 and rows[1].history == 100
    assert rows[2].cash == 101 + 50 and rows[3].cash == 101 + 50
    assert sum(r.cash for r in rows.values()) == 303


# --------------------------------------- Kneser-Ney bigram LM (r5)

def test_kneser_ney_continuation_beats_frequency(spark):
    """The KN signature property: a word that is FREQUENT but occurs
    after only one context ("francisco" after "san") gets a smaller
    continuation share than a word with many distinct left contexts,
    regardless of raw frequency."""
    from ferenda_spark.operators.textstats import kneser_ney_bigram
    docs = spark.createDataFrame(
        [(1, "san francisco is nice"), (2, "san francisco is big"),
         (3, "san francisco is far"), (4, "that is nice"),
         (5, "what is big")],
        "doc_id long, text string")
    m = {(r.w1, r.w2): r for r in kneser_ney_bigram(docs).collect()}
    # "francisco" appears 3x but only ever after "san" -> ncont 1;
    # "is" appears after san-francisco/that/what -> ncont 3
    assert m[("san", "francisco")].ncont_w2 == 1
    assert m[("francisco", "is")].ncont_w2 == 3


def test_kneser_ney_observed_mass_at_most_one(spark):
    from ferenda_spark.operators.textstats import kneser_ney_bigram
    docs = spark.createDataFrame(
        [(i, "a b a c a b c d a %d" % (i % 3),) for i in range(20)],
        "doc_id long, text string")
    rows = kneser_ney_bigram(docs).collect()
    bywl = {}
    for r in rows:
        bywl.setdefault(r.w1, 0)
        bywl[r.w1] += r.p_kn_ppm
    # observed-bigram mass per left context can never exceed 1
    # (the rest is reserved for unseen continuations)
    for w1, tot in bywl.items():
        assert tot <= 1000000, (w1, tot)


# ----------------------------------------------------- SALSA (r5)

def test_salsa_degree_proportional_within_component(spark):
    """Lempel-Moran closed form: two disjoint bipartite components,
    authority mass splits by component size then by in-degree."""
    from ferenda_spark.operators.graphs import salsa_scores
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (5, 20)],
        "src long, dst long")
    rows = {(r.side, r.node): r for r in salsa_scores(edges).collect()}
    # N_a = 3: biclique authorities (2/3)*(2/4) = 1/3 each, the
    # singleton (1/3)*1 = 1/3 -- all equal despite degree 2 vs 1
    for key in (("authority", 10), ("authority", 11),
                ("authority", 20)):
        assert rows[key].score_ppm == 333333
    # per-side mass sums to ~1 (ppm rounding dust only)
    for side in ("hub", "authority"):
        tot = sum(r.score_ppm for (s, _), r in rows.items()
                  if s == side)
        assert 999990 <= tot <= 1000000


def test_salsa_tkc_resistance_vs_hits_shape(spark):
    """The TKC scenario: a dense 3x3 community and a larger sparse
    star. HITS gives the dense clique everything; SALSA keeps the
    star's authority proportional to its in-degree."""
    from ferenda_spark.operators.graphs import salsa_scores
    dense = [(h, a) for h in (1, 2, 3) for a in (10, 11, 12)]
    star = [(h, 20) for h in (4, 5, 6, 7)]
    edges = spark.createDataFrame(dense + star, "src long, dst long")
    rows = {(r.side, r.node): r for r in salsa_scores(edges).collect()}
    # authority 20 has din 4 > any clique authority's 3; SALSA ranks
    # it by component-weighted degree, NOT zero as HITS would
    assert rows[("authority", 20)].score_ppm > 0
    assert rows[("authority", 20)].degree == 4


# ------------------------------------- Simple Good-Turing (r5)

def test_sgt_smooths_where_raw_gt_is_undefined(spark):
    """On a vocabulary with count gaps (n_{r+1}=0 somewhere) the raw
    GT r* is NULL but SGT's power-law r* exists for every r and is
    positive; p0 equals hapax-share exactly."""
    from ferenda_spark.operators.textstats import (good_turing_counts,
                                                   simple_good_turing)
    # counts: many hapaxes, a few mid, one high with a gap below it
    text1 = " ".join("h%d" % i for i in range(40))        # 40 hapax
    text2 = "m1 m1 m2 m2 m3 m3 big big big big big big"
    docs = spark.createDataFrame(
        [(1, text1), (2, text2)], "doc_id long, text string")
    raw = {r.r: r for r in good_turing_counts(docs).collect()}
    sgt = {r.r: r for r in simple_good_turing(docs).collect()}
    assert set(raw) == set(sgt)
    hi = max(sgt)
    assert raw[hi].r_star_milli is None          # undefined tail
    assert sgt[hi].r_star_sgt is not None and sgt[hi].r_star_sgt > 0
    # decreasing count-of-counts -> b < 0 and r* < r+1 for large r
    assert sgt[hi].slope < 0
    assert sgt[hi].r_star_sgt < hi + 1
    # p0 = N1/N in ppm
    n_total = 40 + 12
    assert sgt[1].p0_ppm == 40 * 1000000 // n_total


# --------------------------------------- Luhn card-PII (r5)

def test_luhn_validation_separates_cards_from_ids(spark):
    from ferenda_spark.operators.cleaning import luhn_card_candidates
    docs = spark.createDataFrame([
        (1, "pay with 4111 1111 1111 1111 now"),     # valid visa
        (2, "order 4111111111111112 shipped"),       # fails Luhn
        (3, "amex 378282246310005 works"),           # valid amex
        (4, "call 5551234 phone"),                   # too short
        (5, "id 1234-5678-9012-345 maybe"),          # fails Luhn
        (6, "mc 5555 5555 5555 4444 here"),          # valid mastercard
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in luhn_card_candidates(docs).collect()}
    assert 4 not in rows                     # length-gated out
    assert rows[1].luhn_valid and rows[1].issuer == "visa"
    assert rows[1].digits == "4111111111111111"
    assert not rows[2].luhn_valid and rows[2].issuer is None
    assert rows[3].luhn_valid and rows[3].issuer == "amex"
    assert not rows[5].luhn_valid
    assert rows[6].luhn_valid and rows[6].issuer == "mastercard"


def test_luhn_no_false_hit_inside_longer_digit_run(spark):
    from ferenda_spark.operators.cleaning import luhn_card_candidates
    # a 25-digit run must NOT yield a 19-digit "card" from its prefix
    docs = spark.createDataFrame(
        [(1, "serial 4111111111111111123456789 end")],
        "doc_id long, text string")
    assert luhn_card_candidates(docs).count() == 0


# ------------------------------------- STRAND URL pairing (r5)

def test_strand_pairs_same_host_same_template_only(spark):
    from ferenda_spark.operators.crawl import strand_url_pairs
    pages = spark.createDataFrame([
        ("https://ex.org/en/about",), ("https://ex.org/fr/about",),
        ("https://ex.org/en/contact",),     # no partner
        ("https://ex.org/entity/5",),       # 'en' inside a word
        ("https://other.org/fr/about",),    # wrong host
        ("https://ex.org/docs/en",),        # trailing lang segment
        ("https://ex.org/docs/fr",),
        # only the first lang segment is the marker: these differ in
        # their second segment, so they are not translations
        ("https://ex.org/en/docs/fr/x",), ("https://ex.org/fr/docs/de/x",),
    ], "url string")
    rows = strand_url_pairs(pages).collect()
    got = {(r.host, r.template, r.lang_a, r.lang_b) for r in rows}
    assert got == {
        ("ex.org", "/{lang}/about", "en", "fr"),
        ("ex.org", "/docs/{lang}", "en", "fr"),
    }
    for r in rows:
        assert r.lang_a < r.lang_b          # each pair exactly once


# ------------------------------- Wilson domain ranking (r5)

def test_wilson_small_sample_cannot_outrank_large(spark):
    from ferenda_spark.operators.quality import wilson_domain_ranking
    rows = [("tiny", True)] * 3 + \
           [("big", True)] * 95 + [("big", False)] * 5
    docs = spark.createDataFrame(rows, "source string, passed boolean")
    out = {r.group: r for r in wilson_domain_ranking(
        docs, group_col="source").collect()}
    # 3/3 = 100% raw, but its Wilson LB must sit BELOW 95/100's
    assert out["tiny"].n_pass == 3 and out["big"].n_pass == 95
    assert out["tiny"].wilson_lb_micro < out["big"].wilson_lb_micro
    # bounds live strictly inside (0, p-hat)
    for r in out.values():
        assert 0 < r.wilson_lb_micro < r.n_pass / r.n * 1e6


def test_wilson_zero_and_full_rates_bounded(spark):
    from ferenda_spark.operators.quality import wilson_domain_ranking
    docs = spark.createDataFrame(
        [("none", False)] * 10 + [("all", True)] * 10,
        "source string, passed boolean")
    out = {r.group: r for r in wilson_domain_ranking(
        docs, group_col="source").collect()}
    assert out["none"].wilson_lb_micro == 0
    assert 650000 < out["all"].wilson_lb_micro < 1000000
