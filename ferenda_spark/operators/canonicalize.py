"""Canonicalization: owl:sameAs equivalence -> connected components ->
rewrite triples onto canonical subjects/objects.

The reference treats sameAs-linked subjects within one document graph
as a single resource cluster (relate_dependencies,
documentrepository.py:1957-1965, SURVEY.md T11); at corpus scale that
generalizes to connected components over the global owl:sameAs edge
set.  Implemented as iterative **hash-min** label propagation whose
label is the member's own sort key:

* a URI's label is the struct ``(length(uri), uri)``, so the label a
  component settles on IS its canonical URI — the (length,
  value)-minimal member — with no id mapping, no collision check and
  no re-election after convergence (long-id graphs use the id itself);
* round 1 builds the vertex set from the symmetrized edges together
  with the first min over each vertex and its neighbors; every later
  round is one join of the edges with the labels plus one groupBy,
  then a left join with the previous labels (both joins read the
  labels through one shuffle, which the plan reuses);
* each round is materialized once (``localCheckpoint``, which also
  cuts lineage so plans do not grow round by round — at cluster scale
  ``checkpoint()`` to reliable storage); the number of labels that
  changed is read through ``df.observe`` during that same
  materialization, so convergence costs no extra job;
* the loop ends in the first round where no label changes.  Labels
  only decrease over a finite set, so that happens after diameter + 1
  rounds; there is no round cap, and hence no silently unconverged
  answer.

The corpus plants sameAs chains of four documents (diameter 3), so a
build converges in 4 rounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from .. import vocab


def _settle(cand: DataFrame) -> tuple[DataFrame, int]:
    """(vertex, label, nmin) -> materialized (vertex, label) with label
    lowered to nmin where that is smaller, plus the number lowered."""
    obs = Observation()
    lower = F.coalesce(F.col("nmin") < F.col("label"), F.lit(False))
    labels = (cand
              .select("vertex",
                      F.when(lower, F.col("nmin"))
                      .otherwise(F.col("label")).alias("label"),
                      lower.alias("lowered"))
              .observe(obs, F.count_if("lowered").alias("n"))
              .select("vertex", "label")
              .localCheckpoint())
    return labels, obs.get["n"]


def _hash_min(edges: DataFrame, label) -> DataFrame:
    """edges(src, dst) -> (vertex, label): each vertex gets the minimum
    of ``label(member)`` over its component.  Vertices that occur only
    in self-loops have no component and are left out."""
    sym = (edges.select("src", "dst")
           .union(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
           .where(F.col("src") != F.col("dst"))
           .distinct()
           # materialize once: the loop re-reads sym every round and
           # must not re-run the upstream extraction DAG each time
           .localCheckpoint())
    # round 1: sym is symmetric, so every vertex is some row's src
    labels, lowered = _settle(
        sym.groupBy(F.col("src").alias("vertex"))
        .agg(F.min(label(F.col("dst"))).alias("nmin"))
        .withColumn("label", label(F.col("vertex"))))
    while lowered:
        nmin = (sym.join(labels, sym["dst"] == labels["vertex"])
                .groupBy(sym["src"].alias("vertex"))
                .agg(F.min("label").alias("nmin")))
        labels, lowered = _settle(labels.join(nmin, "vertex", "left"))
    return labels


def _uri_key(c: Column) -> Column:
    return F.struct(F.length(c).alias("l"), c.alias("u"))


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src:long, dst:long) -> (vertex:long, component:long) where
    component = min vertex id in the component."""
    return (_hash_min(edges, lambda c: c)
            .withColumnRenamed("label", "component"))


def connected_components_uris(edges: DataFrame) -> DataFrame:
    """edges(src:string, dst:string) -> (uri, canonical_uri) for
    ARBITRARY string vertices: canonical = the (length, value)-minimal
    member of each component — numeric order for same-prefix
    numeric-suffix URIs, plain lexicographic otherwise.  The result is
    already materialized, so every consumer reads the same rows."""
    return _hash_min(edges, _uri_key).select(
        F.col("vertex").alias("uri"),
        F.col("label.u").alias("canonical_uri"))


def sameas_components(triples: DataFrame) -> DataFrame:
    """owl:sameAs triples -> (uri, canonical_uri) via the generic
    string-vertex connected components (no numeric-suffix assumption;
    for the T6 doc-URI scheme the (length, value) order reduces to
    numeric document order, so the canonical doc keeps being the
    lowest-numbered one)."""
    edges = (triples
             .where(F.col("pred") == vocab.OWL_SAMEAS)
             .select(F.col("subj").alias("src"),
                     F.col("obj").alias("dst")))
    return connected_components_uris(edges)


def rewrite_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (broadcast when
    small; falls back to shuffle joins on bigger mappings — AQE picks).
    Drops the now-degenerate sameAs self-loops."""
    m = mapping
    out = (triples
           .join(m.withColumnRenamed("uri", "subj")
                  .withColumnRenamed("canonical_uri", "subj_canon"),
                 "subj", "left")
           .join(m.withColumnRenamed("uri", "obj")
                  .withColumnRenamed("canonical_uri", "obj_canon"),
                 "obj", "left")
           .select(F.coalesce("subj_canon", "subj").alias("subj"),
                   "pred",
                   F.coalesce("obj_canon", "obj").alias("obj"),
                   "obj_datatype", "obj_lang", "context"))
    return out.where(~((F.col("pred") == vocab.OWL_SAMEAS)
                       & (F.col("subj") == F.col("obj"))))


def incremental_components(mapping: DataFrame,
                           new_edges: DataFrame) -> DataFrame:
    """Merge a NEW batch of sameAs edges into an EXISTING canonical
    mapping without recomputing over corpus history — the ingest-time
    shape of canonicalization at 10^12 scale, where each crawl slice
    adds edges but the stored mapping already collapses everything
    seen so far.

    The stored mapping IS a star forest (member -> canonical edge per
    member), and a star forest preserves connectivity exactly; so
    union(star edges, batch edges) has the same components as
    union(all historical edges, batch edges), while its diameter is
    ~2 instead of the historical cluster diameter.  The hash-min
    fixpoint therefore converges in rounds proportional to the NEW
    batch's chain depth only — per-ingest cost follows the batch, not
    the corpus.  The label is the same (length, value) key as in the
    full run, so output is IDENTICAL to a from-scratch recompute over
    the union (pinned by tests and the DuckDB oracle).

    mapping: (uri, canonical_uri); new_edges: (src, dst).  Returns
    the refreshed (uri, canonical_uri)."""
    star = mapping.select(F.col("uri").alias("src"),
                          F.col("canonical_uri").alias("dst"))
    edges = star.unionByName(new_edges.select("src", "dst"))
    return connected_components_uris(edges)
