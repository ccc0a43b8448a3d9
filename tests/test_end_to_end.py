"""Capstone integration: the full north-rule DAG through every layer
this engine ships — streaming-shaped ingest via atomic snapshot
stages, KG construction + sameAs canonicalization, RDFS entailment,
the SPARQL surface (SELECT/UPDATE) over the materialized table, and
the byte-stable N-Triples dump — one pipeline, consistency asserted
between layers."""

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="e2e-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ferenda_e2e_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_dag_end_to_end(spark, tmpdir):
    from ferenda_spark.catalog import dump_nt
    from ferenda_spark.corpus import load_pages
    from ferenda_spark.operators.extract import extract_pages
    from ferenda_spark.operators.incremental import run_stage_atomic
    from ferenda_spark.operators.triples import (all_triples,
                                                 with_doc_metadata)
    from ferenda_spark.pipeline import canonical_triples
    from ferenda_spark.snaptable import SnapshotTable
    from ferenda_spark.sparql import (sparql_select,
                                      sparql_update_table)

    sf = "/root/testdata/sf0.001"
    pages = load_pages(spark, sf)
    n_pages = pages.count()

    # 1. parse through the atomic snapshot stage (resumable ingest)
    def parse_t(todo):
        return (extract_pages(todo)
                .join(todo.select("url", "input_fingerprint"), "url"))

    parsed, ptab, s1 = run_stage_atomic(pages, tmpdir, "parse",
                                        parse_t)
    assert s1["summary"]["added_rows"] == n_pages
    # rerun = no rework, no new snapshot
    _, _, s_again = run_stage_atomic(pages, tmpdir, "parse", parse_t)
    assert s_again is None

    # 2. KG construction + canonicalization from the staged table
    docs = with_doc_metadata(parsed.drop("input_fingerprint"))
    triples = canonical_triples(spark, docs.localCheckpoint())

    # 3. materialize as a snapshot table
    tab = SnapshotTable(os.path.join(tmpdir, "kg"))
    snap = tab.create(triples, stats_cols=("subj",))
    n_triples = snap["summary"]["total_rows"]
    assert n_triples > 0

    # 4. SPARQL over the materialized table matches the DataFrame
    g = tab.read(spark)
    got = sparql_select(g, """
        SELECT ?pub (COUNT(?d) AS ?n) WHERE {
          ?d dcterms:publisher ?pub .
        } GROUP BY ?pub ORDER BY ?pub""").collect()
    want = (g.where(F.col("pred")
                    == "http://purl.org/dc/terms/publisher")
            .groupBy(F.col("obj")).count().orderBy("obj").collect())
    assert [(r.pub, r.n) for r in got] == [(r.obj, r["count"])
                                           for r in want]

    # 5. SPARQL UPDATE commits a new snapshot; old state time-travels
    s2 = sparql_update_table(tab, spark, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        DELETE WHERE { ?d dcterms:subject ?s }""")
    n_subj = g.where(F.col("pred")
                     == "http://purl.org/dc/terms/subject").count()
    assert tab.read(spark).count() == n_triples - n_subj
    assert tab.read(spark,
                    snapshot_id=snap["snapshot_id"]).count() \
        == n_triples

    # 6. dump of the updated graph: line count equals the table, and
    # the dumped content is exactly the table's N-Triples
    # serialization (tuple-key range ordering at file boundaries is
    # the writer's contract; content equality is the test)
    from ferenda_spark.catalog import nt_lines
    out = os.path.join(tmpdir, "dump.nt")
    n_lines = dump_nt(tab.read(spark), out)
    assert n_lines == n_triples - n_subj
    dumped = sorted(r.value for r in spark.read.text(out).collect())
    expect = sorted(r.line for r in
                    nt_lines(tab.read(spark)).collect())
    assert dumped == expect


def test_flagship_store_rerun_is_noop(spark, tmpdir):
    """Re-running the store-backed flagship is a no-op: both stage
    tables keep exactly one snapshot and the triples are unchanged,
    also with a quarantined page (no text) in the input."""
    import datetime

    from ferenda_spark.corpus import load_pages
    from ferenda_spark.pipeline import flagship
    from ferenda_spark.snaptable import SnapshotTable

    pages = load_pages(spark, "/root/testdata/sf0.001")
    # RFC-style <pre> text without an RFC header fails the parse FSM
    bad_url = "https://example.org/docs/bad/999999"
    bad = spark.createDataFrame(
        [(bad_url, datetime.datetime(2024, 1, 1),
          b"<pre>no header here</pre>", "no header here", "en")],
        pages.schema)
    pages = pages.unionByName(bad)
    ptab = SnapshotTable(os.path.join(tmpdir, "parse_snap"))
    ttab = SnapshotTable(os.path.join(tmpdir, "triples_snap"))
    n = flagship(spark, pages, tmpdir).count()
    assert n > 0
    quarantined = ptab.read(spark).where("error IS NOT NULL")
    assert [r.url for r in quarantined.collect()] == [bad_url]
    assert len(ptab.history()) == 1 and len(ttab.history()) == 1
    assert flagship(spark, pages, tmpdir).count() == n
    assert len(ptab.history()) == 1 and len(ttab.history()) == 1
    # per-row lineage survives: every triple row carries the url +
    # fingerprint of the page bytes that produced it
    assert {"url", "input_fingerprint"} <= set(ttab.read(spark).columns)


def test_flagship_staging_keeps_the_graph(spark, tmpdir):
    """The in-memory and the store-backed flagship build the same
    graph as the oracle-checked kg_canonical_triples query."""
    from ferenda_spark.corpus import load_pages
    from ferenda_spark.operators.triples import TRIPLE_COLS
    from ferenda_spark.pipeline import flagship
    from ferenda_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    canonical_triples, _ = QUERIES["kg_canonical_triples"]
    want = (canonical_triples(spark, sf)
            .select(*TRIPLE_COLS).localCheckpoint())
    n = want.count()
    assert n > 0
    for got in (flagship(spark, load_pages(spark, sf)),
                flagship(spark, load_pages(spark, sf), tmpdir)):
        got = got.select(*TRIPLE_COLS).localCheckpoint()
        assert got.count() == n
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_staged_flagship_equals_fresh_under_change_and_delete(spark,
                                                               tmpdir):
    """One store, five batches of a 12-page slice: v1, a changed
    <title>, a removed sameAs sentence (splits a sameAs component), a
    deleted page, and a revert to v1.  After every batch the staged
    flagship builds exactly the graph a fresh flagship builds from the
    same pages: no triple of a superseded or deleted version stays."""
    from ferenda_spark.corpus import PAGES_SCHEMA, pages_from_documents
    from ferenda_spark.operators.triples import TRIPLE_COLS
    from ferenda_spark.pipeline import flagship

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where(F.col("doc_id") < 12))
    v1 = [r.asDict() for r in pages_from_documents(docs).collect()]
    assert len(v1) == 12

    def edit(rows, doc_id, old, new):
        out = []
        for r in rows:
            if r["url"].endswith("/%d" % doc_id):
                assert old in r["html"]
                r = dict(r, html=bytes(r["html"]).replace(old, new))
            out.append(r)
        return out

    retitled = edit(v1, 3, b"<title>Document 3</title>",
                    b"<title>Document 3, revised</title>")
    unlinked = edit(retitled, 10, b"Identical to Document 9.", b"")
    deleted = [r for r in unlinked if not r["url"].endswith("/3")]
    for rows in (v1, retitled, unlinked, deleted, v1):
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        staged = (flagship(spark, pages, tmpdir).select(*TRIPLE_COLS)
                  .localCheckpoint())
        fresh = flagship(spark, pages).select(*TRIPLE_COLS).localCheckpoint()
        assert staged.count() == fresh.count()
        assert staged.exceptAll(fresh).count() == 0
        assert fresh.exceptAll(staged).count() == 0
