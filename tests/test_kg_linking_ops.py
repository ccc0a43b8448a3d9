"""Distant supervision, NIL clustering, transitive reduction — the
edge cases (multi-relation pairs, whitespace normalization, diamond
DAGs, cycles) the closed-form driver oracles don't exercise."""

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-kg-linking", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_distant_supervision_labels_and_na(spark):
    from ferenda_spark.operators.linking import distant_supervision
    ctx = spark.createDataFrame(
        [("c1", "e1", "e2"), ("c2", "e1", "e3"), ("c3", "e2", "e1")],
        "context_id string, subj string, obj string")
    kb = spark.createDataFrame(
        [("e1", "e2", "bornIn"), ("e1", "e2", "livesIn")],
        "subj string, obj string, relation string")
    got = sorted((r.context_id, r.relation) for r in
                 distant_supervision(ctx, kb).collect())
    # c1 fans out to both KB relations; direction matters (c3 is NA)
    assert got == [("c1", "bornIn"), ("c1", "livesIn"),
                   ("c2", "NA"), ("c3", "NA")]


def test_nil_clustering_normalizes_and_counts(spark):
    from ferenda_spark.operators.linking import nil_clustering
    linked = spark.createDataFrame(
        [(1, "urn:e:1", 5, "Ada Lovelace"),
         (2, "urn:e:9", 0, "  New   Thing "),
         (3, "urn:e:8", 1, "new thing"),
         (4, "urn:e:1", 3, "Ada Lovelace")],
        "mention_id long, entity_id string, overlap long, "
        "surface string")
    got = {r.mention_id: r for r in
           nil_clustering(linked, threshold=3).collect()}
    assert not got[1].is_nil and got[1].resolved_entity == "urn:e:1"
    assert not got[4].is_nil
    # both NILs normalize to the same surface -> one minted entity
    assert got[2].is_nil and got[3].is_nil
    assert (got[2].resolved_entity == got[3].resolved_entity
            == "urn:nil:new thing")
    assert got[2].cluster_size == 2
    assert got[1].cluster_size == 2   # popularity count for known too


def test_transitive_reduction_diamond_and_chain(spark):
    from ferenda_spark.operators.graphs import transitive_reduction
    # chain 1->2->3->4 with shortcuts 1->3, 1->4, 2->4
    # diamond 10->11, 10->12, 11->13, 12->13, 10->13
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (1, 4), (2, 4),
         (10, 11), (10, 12), (11, 13), (12, 13), (10, 13)],
        "doc_a long, doc_b long")
    got = sorted((r.doc_a, r.doc_b) for r in
                 transitive_reduction(edges).collect())
    assert got == [(1, 2), (2, 3), (3, 4),
                   (10, 11), (10, 12), (11, 13), (12, 13)]


def test_transitive_reduction_no_implied_paths(spark):
    from ferenda_spark.operators.graphs import transitive_reduction
    edges = spark.createDataFrame([(1, 2), (3, 4)],
                                  "doc_a long, doc_b long")
    got = sorted((r.doc_a, r.doc_b) for r in
                 transitive_reduction(edges).collect())
    assert got == [(1, 2), (3, 4)]


def test_transitive_reduction_cycle_drops_cycle_edges(spark):
    from ferenda_spark.operators.graphs import transitive_reduction
    edges = spark.createDataFrame([(1, 2), (2, 1), (5, 6)],
                                  "doc_a long, doc_b long")
    got = sorted((r.doc_a, r.doc_b) for r in
                 transitive_reduction(edges).collect())
    assert got == [(5, 6)]


def test_coref_chains_recency_and_unresolved(spark):
    from ferenda_spark.operators.linking import coref_chains
    m = spark.createDataFrame(
        [("u", 0, "He", None),          # leading pronoun: unresolved
         ("u", 1, "Alice", "urn:e:a"),
         ("u", 2, "she", None),
         ("u", 3, "Bob", "urn:e:b"),
         ("u", 4, "they", None),
         ("v", 1, "Carol", "urn:e:c")],
        "url string, pos long, surface string, entity string")
    got = {(r.url, r.pos): r for r in coref_chains(m).collect()}
    assert got[("u", 0)].resolved_entity is None
    assert got[("u", 0)].is_pronoun
    assert got[("u", 2)].resolved_entity == "urn:e:a"
    assert got[("u", 4)].resolved_entity == "urn:e:b"   # recency
    assert got[("u", 3)].resolved_entity == "urn:e:b"   # self
    assert got[("v", 1)].resolved_entity == "urn:e:c"   # no bleed


def test_quote_attribution_multi_and_nonmatch(spark):
    from ferenda_spark.operators.extract import quote_attribution
    docs = spark.createDataFrame(
        [("u1", 'Intro. "First point," said Alice Smith. '
                'Then "second one," said Bob Jones.'),
         ("u2", 'No quotes here, she said quietly.'),
         ("u3", '"lowercase speaker," said bob jones.')],
        "url string, text string")
    got = sorted((r.url, r.speaker, r.quote) for r in
                 quote_attribution(docs).collect())
    assert got == [("u1", "Alice Smith", "First point"),
                   ("u1", "Bob Jones", "second one")]


def test_alias_priors_counts_and_rank(spark):
    from ferenda_spark.operators.linking import alias_priors
    rows = ([("Paris", "urn:e:city")] * 3
            + [(" paris ", "urn:e:hero")]
            + [("Java", "urn:e:lang")])
    anchors = spark.createDataFrame(rows, "surface string, entity string")
    got = {(r.surface, r.entity): r for r in
           alias_priors(anchors).collect()}
    p_city = got[("paris", "urn:e:city")]
    p_hero = got[("paris", "urn:e:hero")]
    assert (p_city.n, p_city.rank) == (3, 1)
    assert (p_hero.n, p_hero.rank) == (1, 2)
    assert abs(p_city.prior - 0.75) < 1e-12
    assert got[("java", "urn:e:lang")].prior == 1.0


def test_personalized_pagerank_exact_triangle(spark):
    from ferenda_spark.operators.graphs import personalized_pagerank
    # 1->2, 1->3, 2->3, 3->1 ; seed {1}, alpha .5, dyadic-exact
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 1)],
                                  "doc_a long, doc_b long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.score for r in
           personalized_pagerank(edges, seeds, iterations=2).collect()}
    # r0 = {1:.5}; r1 = {1:.5, 2:.125, 3:.125}
    # r2: 2 <- 1/2*.5/2=.125 ; 3 <- .125 + .5*.125 = .1875... trace:
    # spread from r1: 1->2 .125, 1->3 .125, 2->3 .0625, 3->1 .0625
    # r2 = {1:.5625, 2:.125, 3:.1875}
    assert got == {1: 0.5625, 2: 0.125, 3: 0.1875}


def test_deterministic_walks_replayable_and_sinks(spark):
    from ferenda_spark.operators.training import deterministic_walks
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)],   # 4 is a sink
        "doc_a long, doc_b long")
    a = sorted((r.start, r.walk_idx, r.step, r.node) for r in
               deterministic_walks(edges, walk_len=3).collect())
    b = sorted((r.start, r.walk_idx, r.step, r.node) for r in
               deterministic_walks(edges.repartition(5),
                                   walk_len=3).collect())
    assert a == b                      # pure function of the graph
    by_walk = {}
    for s, w, k, n in a:
        by_walk.setdefault((s, w), []).append((k, n))
    for (s, w), steps in by_walk.items():
        assert steps[0] == (0, s)      # step 0 is the start
        ks = [k for k, _ in sorted(steps)]
        assert ks == list(range(len(ks)))   # contiguous, stop at sink
        assert sorted(steps)[-1][1] == 4 or len(steps) == 4


def test_table_column_types_majority_and_tie(spark):
    from ferenda_spark.operators.extract import table_column_types
    cells = spark.createDataFrame(
        [("u", 0, 0, 0, "2020-01-02"), ("u", 0, 1, 0, "2021-03-04"),
         ("u", 0, 2, 0, "n/a"),
         ("u", 0, 0, 1, "42"), ("u", 0, 1, 1, "7"),
         ("u", 0, 2, 1, "https://x.org/"),
         ("u", 0, 0, 2, "12"), ("u", 0, 1, 2, "words")],
        "url string, table_idx int, row_idx int, col_idx int, "
        "cell string")
    got = {r.col_idx: (r.col_type, r.n_cells) for r in
           table_column_types(cells).collect()}
    assert got[0] == ("date", 3)       # 2 dates beat 1 text
    assert got[1] == ("int", 3)        # 2 ints beat 1 url
    assert got[2] == ("int", 2)        # 1-1 tie -> lexicographic min


def test_er_pairwise_eval_metrics(spark):
    from ferenda_spark.operators.dedup import er_pairwise_eval
    # gold: {1,2,3} {4,5}; pred: {1,2} {3,4,5}
    gold = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g1"), (4, "g2"), (5, "g2")],
        "item long, cluster string")
    pred = spark.createDataFrame(
        [(1, "p1"), (2, "p1"), (3, "p2"), (4, "p2"), (5, "p2")],
        "item long, cluster string")
    r = er_pairwise_eval(pred, gold).collect()[0]
    # gold pairs: (1,2)(1,3)(2,3)(4,5)=4; pred: (1,2)(3,4)(3,5)(4,5)=4
    # tp: (1,2),(4,5) = 2
    assert (r.tp, r.fp, r.fn) == (2, 2, 2)
    assert r.precision == 0.5 and r.recall == 0.5 and r.f1 == 0.5


def test_er_pairwise_eval_empty_pred(spark):
    from ferenda_spark.operators.dedup import er_pairwise_eval
    gold = spark.createDataFrame([(1, "g"), (2, "g")],
                                 "item long, cluster string")
    pred = spark.createDataFrame([(1, "a"), (2, "b")],
                                 "item long, cluster string")
    r = er_pairwise_eval(pred, gold).collect()[0]
    # gold has the single pair (1,2); pred (all singletons) has none
    assert (r.tp, r.fp, r.fn) == (0, 0, 1)
    assert r.precision == 0.0 and r.f1 == 0.0


def test_split_sentences_guards(spark):
    from ferenda_spark.operators.textstats import split_sentences
    docs = spark.createDataFrame(
        [("u", "Dr. Smith met A. Turing. Then it closed! Over? "
               "The end.")],
        "url string, text string")
    got = [r.sentence for r in
           split_sentences(docs).orderBy("sent_idx").collect()]
    assert got == ["Dr. Smith met A. Turing.", "Then it closed!",
                   "Over?", "The end."]
