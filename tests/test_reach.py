"""The one reachability fixpoint, ``operators.graphs.reach``: property
tests against a pure-Python layered BFS (no Spark-side oracle), plus
the deep-input regressions of the operators built on it, each of which
used to stop at a silent round cap and return a truncated answer."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ferenda_spark.session import get_spark

_SETTINGS = dict(max_examples=20, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

NODES = st.integers(0, 5)
LABELS = st.sampled_from(["a", "b", None])
KEYS = st.sampled_from([0, 1, None])

# self-loops, cycles and duplicate edges all come out of this
_edges = st.lists(st.tuples(NODES, NODES, KEYS), max_size=14)
_seeds = st.lists(st.tuples(LABELS, KEYS, NODES), min_size=1, max_size=5)


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="reach-props", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _bfs(edges, seeds, d0, max_hops, use_key):
    """{(label, key, node): dist} by layered BFS, one layer per round;
    with ``use_key`` a walk only follows edges carrying its key (None
    matches None)."""
    visited = {s: d0 for s in seeds}
    front = set(seeds)
    hop = 0
    while front and (max_hops is None or hop < max_hops):
        hop += 1
        nxt = {}
        for lab, key, node in front:
            for u, v, k in edges:
                if u == node and (not use_key or k == key):
                    if (lab, key, v) not in visited:
                        nxt[(lab, key, v)] = d0 + hop
        visited.update(nxt)
        front = set(nxt)
    return visited


@given(_edges, _seeds, st.booleans(), st.booleans(),
       st.one_of(st.none(), st.integers(0, 3)), st.integers(0, 1))
@settings(**_SETTINGS)
def test_reach_matches_python_bfs(spark, edges, seeds, use_label, use_key,
                                  max_hops, d0):
    from ferenda_spark.operators.graphs import reach
    # columns the case does not use are constant, so one oracle serves
    seeds = {(lab if use_label else "-", key if use_key else -1, node)
             for lab, key, node in seeds}
    labels = ((["lab"] if use_label else [])
              + (["k"] if use_key else []))
    e_df = spark.createDataFrame(
        edges, "u long, v long, k long").select(
            "u", "v", *(["k"] if use_key else []))
    s_df = spark.createDataFrame(
        [(lab, key, node, d0) for lab, key, node in seeds],
        "lab string, k long, node long, dist int").select(
            *labels, "node", "dist")
    got = reach(e_df, s_df, max_hops).collect()
    assert len(got) == len({tuple(r) for r in got})   # no duplicates
    want = _bfs(edges, seeds, d0, max_hops, use_key)
    assert {(r["lab"] if use_label else "-",
             r["k"] if use_key else -1, r.node): r.dist
            for r in got} == want


def test_reach_pair_budget_raises_mid_fixpoint(spark):
    from ferenda_spark.operators.graphs import ReachBudgetExceeded, reach
    chain = [(i, i + 1) for i in range(10)]
    e = spark.createDataFrame(chain, "u long, v long")
    seeds = spark.createDataFrame(
        [(u, v, 1) for u, v in chain], "root long, node long, dist int")
    assert reach(e, seeds, budget=55).count() == 55
    with pytest.raises(ReachBudgetExceeded):
        reach(e, seeds, budget=54)


# ------------------------------------------- deep-input regressions

def test_scc_reversed_chain_labels_every_vertex(spark):
    """11 -> 10 -> ... -> 0 peels one singleton SCC per outer round:
    12 rounds, past the old 8-round cap (8 of 12 labelled)."""
    from ferenda_spark.operators.graphs import scc_labels
    df = spark.createDataFrame([(i + 1, i) for i in range(11)],
                               "src long, dst long")
    got = {r.node: r.scc for r in scc_labels(df).collect()}
    assert got == {v: v for v in range(12)}


def test_bowtie_long_out_chain_is_out(spark):
    """Core 0<->1 and OUT chain 1 -> 2 -> ... -> 22: the old 16-round
    cap left 18..22 as OTHER."""
    from ferenda_spark.operators.graphs import bowtie_classes, scc_labels
    edges = [(0, 1), (1, 0)] + [(i, i + 1) for i in range(1, 22)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.cls
           for r in bowtie_classes(df, scc_labels(df)).collect()}
    assert got == {0: "CORE", 1: "CORE",
                   **{v: "OUT" for v in range(2, 23)}}


def test_ispartof_closure_eleven_deep_chain(spark):
    """An 11-deep isPartOf chain has 66 ancestor pairs; the old
    8-iteration cap returned 63."""
    from ferenda_spark import vocab
    from ferenda_spark.operators.graphs import ispartof_closure
    t = spark.createDataFrame(
        [("n%02d" % i, vocab.DCTERMS_ISPARTOF, "n%02d" % (i + 1), "c")
         for i in range(11)],
        "subj string, pred string, obj string, context string")
    got = {(r.uri, r.ancestor_uri, r.depth)
           for r in ispartof_closure(t).collect()}
    assert got == {("n%02d" % i, "n%02d" % j, j - i)
                   for i in range(12) for j in range(i + 1, 12)}
    assert len(got) == 66


def test_transitive_reduction_drops_deep_shortcut(spark):
    """0 -> 1 -> ... -> 11 plus the shortcut 0 -> 11: the shortcut is
    implied by an 11-edge path, past the old depth-8 cap."""
    from ferenda_spark.operators.graphs import transitive_reduction
    chain = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(chain + [(0, 11)], "doc_a long, doc_b long")
    got = sorted((r.doc_a, r.doc_b)
                 for r in transitive_reduction(df).collect())
    assert got == chain


def test_sparql_path_deeper_than_old_round_cap(spark):
    """A 35-edge chain needs 35 rounds; property paths used to raise
    past 32."""
    from ferenda_spark.sparql import sparql_select
    dct = "http://purl.org/dc/terms/"
    n = 35
    t = spark.createDataFrame(
        [("n%02d" % i, dct + "isPartOf", "n%02d" % (i + 1), None, None, "c")
         for i in range(n)],
        "subj string, pred string, obj string, obj_datatype string, "
        "obj_lang string, context string")
    q = "PREFIX dcterms: <%s> SELECT * WHERE { ?a dcterms:isPartOf+ %s }"
    assert sparql_select(t, q % (dct, "?b")).count() == n * (n + 1) // 2
    got = {r.a for r in sparql_select(t, q % (dct, "<n%02d>" % n)).collect()}
    assert got == {"n%02d" % i for i in range(n)}
