"""HyperBall, RDF-list flattening, OWL property entailment,
paragraph dedup, bitext mining, entity salience — the edge cases
(cardinality estimates, cyclic lists, deep transitive chains,
all-duplicate pages, ratio cutoffs, rank tie-breaks) the closed-form
driver oracles don't exercise."""

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-webgraph", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


# ---------------------------------------------------------------- hyperball

def test_hyperball_path_graph_balls_grow(spark):
    """On a directed path 0->1->2->3, node 0's ball has 1+r distinct
    members at radius r; the HLL estimate must track that growth and
    be near-exact at these tiny cardinalities."""
    from ferenda_spark.operators.graphs import hll_estimate, hyperball
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    out = hyperball(e, rounds=3, m=64).collect()
    by_nr = {}
    for r in out:
        by_nr.setdefault((r.node, r.radius), []).append(
            (r.register, r.max_rank))
    for radius in range(4):
        est = hll_estimate(by_nr[(0, radius)], m=64)
        true = radius + 1
        assert abs(est - true) / true < 0.2, (radius, est)


def test_hyperball_registers_monotone_and_bounded(spark):
    """Registers only grow with radius (HLL union is max), and a
    node's register table never exceeds m rows."""
    from ferenda_spark.operators.graphs import hyperball
    e = _edges(spark, [(i, (i + 1) % 6) for i in range(6)]
               + [(i, (i + 2) % 6) for i in range(6)])
    rows = hyperball(e, rounds=2, m=16).collect()
    val = {}
    for r in rows:
        val[(r.node, r.radius, r.register)] = r.max_rank
        assert 1 <= r.max_rank <= 25
    for (n, rad, reg), v in val.items():
        if rad > 0:
            prev = val.get((n, rad - 1, reg))
            if prev is not None:
                assert v >= prev
    from collections import Counter
    per = Counter((r.node, r.radius) for r in rows)
    assert max(per.values()) <= 16


def test_hyperball_effective_diameter(spark):
    """On a 4-cycle every ball saturates at |V|=4 by radius 3: the
    smallest radius whose mean estimate reaches 90% of the max is the
    effective diameter."""
    from ferenda_spark.operators.graphs import hll_estimate, hyperball
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    rows = hyperball(e, rounds=3, m=64).collect()
    by_r = {}
    for r in rows:
        by_r.setdefault(r.radius, {}).setdefault(r.node, []).append(
            (r.register, r.max_rank))
    mean = {rad: sum(hll_estimate(v, 64) for v in nodes.values())
            / len(nodes) for rad, nodes in by_r.items()}
    eff = min(r for r in sorted(mean) if mean[r] >= 0.9 * mean[3])
    assert eff == 3


# ---------------------------------------------------------- rdf_list_flatten

def _list_triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"


def test_rdf_list_two_anchors_share_tail(spark):
    """Two lists sharing a tail cell (RDF allows it) each enumerate
    the shared members at their own positions."""
    t = _list_triples(spark, [
        ("c0", FIRST, "a"), ("c0", REST, "c1"),
        ("c1", FIRST, "b"), ("c1", REST, NIL),
        ("d0", FIRST, "x"), ("d0", REST, "c1"),
        ("s", "p", "c0"), ("s2", "p", "d0")])
    from ferenda_spark.operators.graphs import rdf_list_flatten
    got = {(r.subj, r.idx, r.member)
           for r in rdf_list_flatten(t).collect()}
    assert got == {("s", 0, "a"), ("s", 1, "b"),
                   ("s2", 0, "x"), ("s2", 1, "b")}


def test_rdf_list_cycle_bounded(spark):
    """A cyclic rest-chain terminates at max_len instead of looping."""
    t = _list_triples(spark, [
        ("c0", FIRST, "a"), ("c0", REST, "c1"),
        ("c1", FIRST, "b"), ("c1", REST, "c0"),
        ("s", "p", "c0")])
    from ferenda_spark.operators.graphs import rdf_list_flatten
    rows = rdf_list_flatten(t, max_len=5).collect()
    assert len(rows) == 5
    assert [r.member for r in sorted(rows, key=lambda r: r.idx)] == [
        "a", "b", "a", "b", "a"]


def test_rdf_list_non_list_objects_ignored(spark):
    """Triples whose object is not a cons cell produce nothing."""
    t = _list_triples(spark, [
        ("c0", FIRST, "a"), ("c0", REST, NIL),
        ("s", "p", "c0"), ("s", "q", "not-a-cell")])
    from ferenda_spark.operators.graphs import rdf_list_flatten
    rows = rdf_list_flatten(t).collect()
    assert {(r.subj, r.pred) for r in rows} == {("s", "p")}


# ------------------------------------------------------------ owl_entailment

def _facts(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, None, None, "ctx") for s, p, o in rows],
        "subj string, pred string, obj string, obj_datatype string, "
        "obj_lang string, context string")


def test_owl_transitive_deep_chain(spark):
    """A 5-link chain closes to all 15 ancestor pairs (one hop per
    round, to the first empty round)."""
    from ferenda_spark.operators.graphs import (OWL, OWL_TRANSITIVE,
                                                owl_entailment)
    from ferenda_spark import vocab
    chain = [("n%d" % i, "anc", "n%d" % (i + 1)) for i in range(5)]
    onto = spark.createDataFrame(
        [("anc", vocab.RDF_TYPE, OWL_TRANSITIVE)],
        "subj string, pred string, obj string")
    out = owl_entailment(_facts(spark, chain), onto).collect()
    pairs = {(r.subj, r.obj) for r in out if r.pred == "anc"}
    assert pairs == {("n%d" % i, "n%d" % j)
                     for i in range(6) for j in range(6) if i < j}


def test_owl_inverse_both_directions(spark):
    from ferenda_spark.operators.graphs import (OWL_INVERSEOF,
                                                owl_entailment)
    onto = spark.createDataFrame(
        [("partOf", OWL_INVERSEOF, "hasPart")],
        "subj string, pred string, obj string")
    facts = _facts(spark, [("a", "partOf", "b"), ("c", "hasPart", "d")])
    got = {(r.subj, r.pred, r.obj)
           for r in owl_entailment(facts, onto,
                                   inferred_only=True).collect()}
    assert got == {("b", "hasPart", "a"), ("d", "partOf", "c")}


def test_owl_symmetric_idempotent(spark):
    """Entailing twice adds nothing new (symmetric mirror of a
    mirror is the original)."""
    from ferenda_spark.operators.graphs import (OWL, OWL_SYMMETRIC,
                                                owl_entailment)
    from ferenda_spark import vocab
    onto = spark.createDataFrame(
        [("conn", vocab.RDF_TYPE, OWL_SYMMETRIC)],
        "subj string, pred string, obj string")
    once = owl_entailment(_facts(spark, [("a", "conn", "b")]), onto)
    twice = owl_entailment(once, onto)
    assert twice.count() == once.count() == 2


# ---------------------------------------------------------- paragraph_dedup

def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_paragraph_dedup_keep_first_across_docs(spark):
    from ferenda_spark.operators.dedup import paragraph_dedup
    out = {r.url: r for r in paragraph_dedup(_pages(spark, [
        ("a", "shared\n\nonly-a"),
        ("b", "shared\n\nonly-b")])).collect()}
    assert out["a"].n_kept == 2 and out["a"].kept_text == "shared\n\nonly-a"
    assert out["b"].n_kept == 1 and out["b"].kept_text == "only-b"


def test_paragraph_dedup_all_dropped_is_null(spark):
    from ferenda_spark.operators.dedup import paragraph_dedup
    out = {r.url: r for r in paragraph_dedup(_pages(spark, [
        ("a", "x\n\ny"), ("b", "x\n\ny")])).collect()}
    assert out["b"].n_kept == 0 and out["b"].kept_text is None
    assert out["b"].n_paras == 2


def test_paragraph_dedup_within_doc_repeat(spark):
    """A paragraph repeated inside ONE document keeps only its first
    occurrence there."""
    from ferenda_spark.operators.dedup import paragraph_dedup
    out = paragraph_dedup(_pages(spark, [
        ("a", "p\n\nq\n\np")])).collect()[0]
    assert out.n_paras == 3 and out.n_kept == 2
    assert out.kept_text == "p\n\nq"


# --------------------------------------------------------- bitext_candidates

def test_bitext_ratio_cutoff_and_lang_order(spark):
    from ferenda_spark.operators.linking import bitext_candidates
    pages = spark.createDataFrame([
        ("https://h/en/p/1", "en", "x" * 100),
        ("https://h/fr/p/1", "fr", "x" * 150),
        ("https://h/de/p/1", "de", "x" * 500),   # fails ratio vs both
        ("https://h/nolang", "en", "x" * 100),   # no lang segment
    ], "url string, lang string, text string")
    got = [(r.lang_a, r.lang_b)
           for r in bitext_candidates(pages, ratio=2.0).collect()]
    assert got == [("en", "fr")]


def test_bitext_different_sites_never_pair(spark):
    from ferenda_spark.operators.linking import bitext_candidates
    pages = spark.createDataFrame([
        ("https://h1/en/p", "en", "xxxx"),
        ("https://h2/fr/p", "fr", "xxxx"),
    ], "url string, lang string, text string")
    assert bitext_candidates(pages).count() == 0


# ----------------------------------------------------------- entity_salience

def test_entity_salience_rank_and_features(spark):
    from ferenda_spark.operators.linking import entity_salience
    mentions = spark.createDataFrame([
        ("u", "k", 50, 55, "x", "e1"),
        ("u", "k", 90, 95, "x", "e1"),
        ("u", "k", 10, 15, "x", "e2"),
    ], "url string, kind string, start int, end int, anchor string, "
       "target_uri string")
    out = {r.target_uri: r for r in entity_salience(mentions).collect()}
    assert out["e1"].rank == 1            # 2 mentions beat 1
    assert out["e2"].rank == 2            # earlier but fewer
    assert out["e1"].n_mentions == 2
    assert out["e1"].first_start == 50
    assert out["e1"].spread == 45
    assert out["e2"].salience == 1.0 / 11


# -------------------------------------------------------------- profile_table

def test_profile_table_nulls_and_ndv(spark):
    from ferenda_spark.operators.quality import profile_table
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "k long, s string")
    out = {r.column: r for r in profile_table(df).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_nulls == 0
    assert out["k"].n_distinct == 2
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert out["s"].min_val == "a" and out["s"].max_val == "b"
    # string rendering: numeric min/max are lexicographic by design
    assert out["k"].min_val == "1" and out["k"].max_val == "2"


def test_profile_table_column_subset(spark):
    from ferenda_spark.operators.quality import profile_table
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    assert [r.column for r in
            profile_table(df, columns=["s"]).collect()] == ["s"]


# -------------------------------------------------------- entity_cooccurrence

def test_entity_cooccurrence_lift(spark):
    """3 docs: {A,B}, {A,B}, {A,C} -> lift(A,B) = 3*2/(3*2) = 1.0,
    lift(A,C) = 3*1/(3*1) = 1.0, no (B,C) row; duplicate mentions in
    one doc count once."""
    from ferenda_spark.operators.triples import entity_cooccurrence
    de = spark.createDataFrame(
        [("d1", "A"), ("d1", "B"), ("d1", "B"),
         ("d2", "A"), ("d2", "B"),
         ("d3", "A"), ("d3", "C")], "url string, entity string")
    out = {(r.entity_a, r.entity_b): r
           for r in entity_cooccurrence(de).collect()}
    assert set(out) == {("A", "B"), ("A", "C")}
    ab = out[("A", "B")]
    assert (ab.c_ab, ab.c_a, ab.c_b, ab.n_docs) == (2, 3, 2, 3)
    assert ab.lift == 1.0
    assert out[("A", "C")].lift == 1.0


def test_entity_cooccurrence_positive_association(spark):
    """Entities that ALWAYS co-occur get lift > 1 when rarer than
    the corpus."""
    from ferenda_spark.operators.triples import entity_cooccurrence
    de = spark.createDataFrame(
        [("d1", "X"), ("d1", "Y"),
         ("d2", "X"), ("d2", "Y"),
         ("d3", "Z"), ("d4", "Z")], "url string, entity string")
    out = {(r.entity_a, r.entity_b): r.lift
           for r in entity_cooccurrence(de).collect()}
    assert out[("X", "Y")] == 4 * 2 / (2 * 2)  # 2.0


# ------------------------------------------------------ incremental CC merge

def _uri_edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_incremental_components_bridges_old_clusters(spark):
    """A single new edge joining two PREVIOUSLY SEPARATE clusters
    re-elects one canonical for the union — identical to a
    from-scratch recompute over all edges."""
    from ferenda_spark.operators.canonicalize import (
        connected_components_uris, incremental_components)
    old = _uri_edges(spark, [("b", "a"), ("d", "c")])
    new = _uri_edges(spark, [("c", "b")])
    mapping = connected_components_uris(old)
    inc = {(r.uri, r.canonical_uri)
           for r in incremental_components(mapping, new).collect()}
    full = {(r.uri, r.canonical_uri)
            for r in connected_components_uris(
                old.unionByName(new)).collect()}
    assert inc == full
    assert inc == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}


def test_incremental_components_new_cluster_and_untouched(spark):
    """A batch that only adds a brand-new cluster leaves existing
    mappings unchanged."""
    from ferenda_spark.operators.canonicalize import (
        connected_components_uris, incremental_components)
    old = _uri_edges(spark, [("y", "x")])
    new = _uri_edges(spark, [("q", "p")])
    inc = {(r.uri, r.canonical_uri) for r in incremental_components(
        connected_components_uris(old), new).collect()}
    assert inc == {("x", "x"), ("y", "x"), ("p", "p"), ("q", "p")}


def test_incremental_components_chain_merge_three_clusters(spark):
    """One batch chaining THREE old clusters together converges to a
    single canonical (star-forest diameter argument)."""
    from ferenda_spark.operators.canonicalize import (
        connected_components_uris, incremental_components)
    old = _uri_edges(spark, [("a2", "a1"), ("b2", "b1"), ("c2", "c1")])
    new = _uri_edges(spark, [("b1", "a2"), ("c1", "b2")])
    inc = {(r.uri, r.canonical_uri) for r in incremental_components(
        connected_components_uris(old), new).collect()}
    assert inc == {(u, "a1")
                   for u in ("a1", "a2", "b1", "b2", "c1", "c2")}
