"""Property tests (hypothesis) for the sameAs connected components
against a pure-Python union-find: random edge lists over a pool of
mixed-length URIs, with self-loops, duplicate and reversed edges."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ferenda_spark.session import get_spark

_SETTINGS = dict(max_examples=10, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

URIS = ["a", "b", "ab", "ba", "x:2", "x:10", "x:9", "urn:z",
        "mailto:q@e.org", "é", "zé", "https://example.org/r/1"]

_edges = st.lists(st.tuples(st.sampled_from(URIS), st.sampled_from(URIS)),
                  max_size=14)


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="canonicalize-props", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _union_find(edges):
    """uri -> (length, value)-minimal member of its component, over the
    vertices of the non-self-loop edges (a vertex seen only in
    self-loops has no component)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb, key=lambda u: (len(u), u))] = \
                min(ra, rb, key=lambda u: (len(u), u))
    return {v: find(v) for v in parent}


def _df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def _mapping(df):
    rows = df.collect()
    got = {r.uri: r.canonical_uri for r in rows}
    assert len(got) == len(rows)   # one row per member
    return got


@given(_edges)
@settings(**_SETTINGS)
def test_uri_components_match_union_find(spark, edges):
    from ferenda_spark.operators.canonicalize import (
        connected_components_uris)
    assert (_mapping(connected_components_uris(_df(spark, edges)))
            == _union_find(edges))


@given(_edges, _edges)
@settings(**_SETTINGS)
def test_incremental_equals_full_recompute(spark, old, new):
    from ferenda_spark.operators.canonicalize import (
        connected_components_uris, incremental_components)
    inc = incremental_components(
        connected_components_uris(_df(spark, old)), _df(spark, new))
    full = connected_components_uris(_df(spark, old + new))
    assert _mapping(inc) == _mapping(full) == _union_find(old + new)
