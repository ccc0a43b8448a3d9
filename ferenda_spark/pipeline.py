"""End-to-end DAG assembly: pages -> parsed docs -> triples ->
canonicalized triples (SURVEY.md §3.1 restated).

:func:`flagship` is the one definition of the KG-construction job;
``bench.py``, ``scripts/submit_flagship.py`` and the query registry's
KG queries all build from the functions here."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import catalog
from .operators.canonicalize import rewrite_canonical, sameas_components
from .operators.extract import extract_pages
from .operators.incremental import fingerprinted, run_stage_atomic
from .operators.linking import build_resources, entity_mention_triples
from .operators.triples import TRIPLE_COLS, all_triples, with_doc_metadata


def parsed_docs(pages: DataFrame) -> DataFrame:
    """The parse stage: extracted documents plus doc metadata."""
    return with_doc_metadata(extract_pages(pages))


def corpus_triples(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """doc + section + mention + entity-link triples."""
    resources = build_resources(spark)
    return all_triples(docs).unionByName(
        entity_mention_triples(docs, resources))


def canonical_triples(spark: SparkSession, docs: DataFrame,
                      mapping: DataFrame | None = None) -> DataFrame:
    """Full KG rewritten through the sameAs canonical mapping.

    ``mapping`` is the materialized canonicalization stage table when
    the caller has one (production shape: connected components runs
    once per ingest and is persisted; every downstream query joins
    against the stored mapping instead of re-running the fixpoint).
    Without it the mapping is derived inline from the same triples."""
    t = corpus_triples(spark, docs)
    if mapping is None:
        mapping = sameas_components(t)
    return rewrite_canonical(t, mapping)


def flagship(spark: SparkSession, pages: DataFrame,
             store: str | None = None) -> DataFrame:
    """The KG-construction job: pages -> parse -> doc/section/mention/
    entity triples -> sameAs canonicalization.

    Without ``store`` the parse is materialized once (localCheckpoint)
    before the triples fan-out, whose branches would otherwise each
    re-run the Python parse, and the canonical triples come back lazy.

    With ``store`` (a writable directory) parse and triples are
    resumable snapshot stages (:func:`run_stage_atomic`, tables
    ``parse_snap`` and ``triples_snap``): a rerun processes only pages
    whose bytes changed, a kill loses at most the uncommitted batch of
    one stage, and every triple row of ``triples_snap`` keeps the
    ``(url, input_fingerprint)`` of the page that produced it.  The
    canonical graph is rebuilt from the committed rows of the current
    ``pages`` (a changed, deleted or reverted page leaves no stale
    triples, so it equals the graph of a fresh run), written with
    :func:`catalog.write_triples` to the flat parquet directory
    ``<store>/triples`` (one file per document context), and read back
    with ``spark.read.parquet``."""
    if store is None:
        return canonical_triples(spark,
                                 parsed_docs(pages).localCheckpoint())

    def parse_t(todo):
        return parsed_docs(todo).join(
            todo.select("url", "input_fingerprint"), "url")

    # a stage table holds every committed version of every url: the
    # graph is built from the rows of the current input only
    def live(stage_out, stage_in, source_col="html"):
        keys = ["url", "input_fingerprint"]
        return stage_out.join(fingerprinted(stage_in, source_col)
                              .select(*keys), keys, "left_semi")

    parsed, _, _ = run_stage_atomic(pages, store, "parse", parse_t)
    parsed = live(parsed, pages)

    def triples_t(todo):
        lineage = todo.select(F.col("url").alias("context"), "url",
                              "input_fingerprint")
        return corpus_triples(spark, todo).join(lineage, "context")

    # the triples stage keys on the parse fingerprint, never null: a
    # quarantined page has no text, and md5(NULL) would leave it
    # pending (and re-committed) on every rerun
    triples, _, _ = run_stage_atomic(parsed, store, "triples", triples_t,
                                     source_col="input_fingerprint")
    t = live(triples, parsed, "input_fingerprint").select(*TRIPLE_COLS)
    return spark.read.parquet(catalog.write_triples(
        rewrite_canonical(t, sameas_components(t)), store))
