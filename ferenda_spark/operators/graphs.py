"""Graph-shaped derived tables over the triples DF.

* :func:`reach` — the one reachability fixpoint: a labeled,
  layer-synchronous BFS (one join + one anti-join per round, lineage
  cut with localCheckpoint) that runs to its first empty round.  Every
  closure and BFS here (ispartof_closure, bfs_distances,
  transitive_reduction, owl_entailment's transitive rule, scc_labels'
  backward marking, bowtie_classes, harmonic_centrality) and the SPARQL
  property paths are built on it, so none has an iteration cap that
  could silently truncate a deep input.
* :func:`ispartof_closure` — the annotations transitive closure (J3:
  ``?s dcterms:isPartOf* <uri>``, res/sparql/annotations.rq:1-20 +
  construct_annotations, documentrepository.py:2594-2611).  The part
  hierarchy is shallow (Section/Subsection/Subsubsection, SURVEY.md J3)
  so the fixpoint ends after a handful of rounds.
* :func:`citation_counts` — the reverse-reference join of the same
  annotation query (incoming ``dcterms:references`` per target).
* :func:`pagerank` — graphanalyze.py:412-495 re-expressed as iterative
  DataFrame PageRank (the reference shells out to networkx on a single
  node; here each round is a join + groupBy so it scales with the edge
  count, and the rank vector localCheckpoints every round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from .. import vocab


class ReachBudgetExceeded(RuntimeError):
    """:func:`reach` visited more rows than its ``budget``; ``args``
    is (budget, rows visited so far)."""


def _checkpoint_count(df: DataFrame) -> tuple:
    """(``df`` checkpointed, its row count) from one Spark action: the
    count is observed while the eager checkpoint computes the rows."""
    obs = Observation()
    out = (df.observe(obs, F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    return out, obs.get["n"]


def reach(edges: DataFrame, frontier: DataFrame,
          max_hops: int | None = None,
          budget: int | None = None) -> DataFrame:
    """Labeled, layer-synchronous BFS: the one reachability fixpoint
    behind every closure and BFS here and the SPARQL property paths.

    ``edges`` is ``(u, v, *keys)``; ``frontier`` is ``(*labels, node,
    dist)``, one row per (labels, node).  Each round joins the
    frontier to the edges on ``node = u`` plus every key column the
    frontier also carries, drops the (labels, node) pairs already
    visited, and keeps the rest at ``dist + 1`` as the next frontier.
    The loop stops at the first empty round, which always comes (a
    round visits at least one new pair of a finite set), or after
    ``max_hops`` rounds.  Returns the visited ``(*labels, node,
    dist)``, seeds included; with every seed at one ``dist``, BFS
    layering makes ``dist`` that plus the shortest hop count from the
    seeds.  Labels and keys compare null-safe.

    A round is one Spark action: an eager ``localCheckpoint`` whose
    row count is observed while it runs (:func:`_checkpoint_count`),
    not a checkpoint followed by a ``count``.  The checkpoint cuts
    lineage, and it makes every round's frame a fresh leaf, so the
    visited anti-join never reads a union built from its own output:
    the shape Spark 4.1's union constraint rewrite miscompiles
    (NoSuchElementException on attribute ids).
    ``budget`` bounds the visited rows while the fixpoint runs (the
    SPARQL closure pair budget): past it, :class:`ReachBudgetExceeded`
    is raised."""
    labels = [c for c in frontier.columns if c not in ("node", "dist")]
    keys = [c for c in edges.columns if c not in ("u", "v") and c in labels]
    seen_cols = labels + ["node"]
    step_on = F.col("f.node") == F.col("e.u")
    for k in keys:
        step_on = step_on & F.col("f." + k).eqNullSafe(F.col("e." + k))
    seen_on = None
    for c in seen_cols:
        eq = F.col("n." + c).eqNullSafe(F.col("s." + c))
        seen_on = eq if seen_on is None else seen_on & eq
    edges = edges.localCheckpoint(eager=False).alias("e")
    if budget is None:
        front = visited = frontier.localCheckpoint(eager=False)
        total = 0
    else:
        front, total = _checkpoint_count(frontier)
        visited = front
    hop = 0
    while max_hops is None or hop < max_hops:
        hop += 1
        nxt = (front.alias("f").join(edges, step_on)
               .select(*[F.col("f." + c).alias(c) for c in labels],
                       F.col("e.v").alias("node"),
                       (F.col("f.dist") + 1).alias("dist"))
               .alias("n")
               .join(visited.select(*seen_cols).alias("s"), seen_on,
                     "left_anti")
               .distinct())
        nxt, n = _checkpoint_count(nxt)
        if n == 0:
            break
        total += n
        if budget is not None and total > budget:
            raise ReachBudgetExceeded(budget, total)
        visited = visited.unionByName(nxt)
        front = nxt
    return visited


def ispartof_closure(triples: DataFrame) -> DataFrame:
    """(uri, ancestor_uri, depth): every isPartOf ancestor of every
    part, depth 1 = direct parent, shortest depth on a DAG with
    shortcuts.  :func:`reach` seeded with the edges at depth 1."""
    edges = (triples
             .where(F.col("pred") == vocab.DCTERMS_ISPARTOF)
             .select(F.col("subj").alias("u"), F.col("obj").alias("v"))
             .distinct())
    seeds = edges.select(F.col("u").alias("uri"), F.col("v").alias("node"),
                         F.lit(1).alias("dist"))
    return reach(edges, seeds).select(
        "uri", F.col("node").alias("ancestor_uri"),
        F.col("dist").alias("depth"))


def deps_edges(triples: DataFrame, uri_patterns: DataFrame) -> DataFrame:
    """J2 dependency resolution (relate_dependencies,
    documentrepository.py:1945-1982): for every object URI in a
    document's graph, find which repo it belongs to.

    Reference semantics replicated exactly: skip ``rdf:type`` and
    ``owl:sameAs`` predicates, skip objects that are subjects within
    the same document's graph (intra-doc resources), match the rest
    against the repo URI-pattern dimension.  Spark shape: anti-join for
    the intra-doc skip, then a **broadcast** prefix-join against the
    small patterns dim (the reference's nested loop with MRU
    reordering, X5, collapses into this).

    uri_patterns: (prefix:string, repo:string).  Returns distinct
    (context, repo, target_uri) edges.
    """
    objs = (triples
            .where(~F.col("pred").isin(vocab.RDF_TYPE, vocab.OWL_SAMEAS))
            .select("context", F.col("obj").alias("target_uri")))
    own_subjects = (triples
                    .select("context", F.col("subj").alias("target_uri"))
                    .distinct())
    external = objs.join(own_subjects, ["context", "target_uri"],
                         "left_anti")
    matched = external.join(
        F.broadcast(uri_patterns),
        F.col("target_uri").startswith(F.col("prefix")))
    return matched.select("context", "repo", "target_uri").distinct()


def annotations(triples: DataFrame) -> DataFrame:
    """J3 complete: per root document, the annotation record the
    reference CONSTRUCTs for generate() (annotations.rq:1-20 +
    construct_annotations, documentrepository.py:2594-2611): all parts
    in the ``isPartOf*`` closure plus the references emitted by those
    parts.  One closure fixpoint + one join + one groupBy."""
    closure = ispartof_closure(triples)
    docs = (closure
            .where(~F.col("ancestor_uri").contains("#"))
            .select(F.col("ancestor_uri").alias("doc_uri"),
                    F.col("uri").alias("part_uri")))
    refs = (triples
            .where(F.col("pred") == vocab.DCTERMS_REFERENCES)
            .select(F.col("subj").alias("part_uri"),
                    F.col("obj").alias("ref_uri")))
    return (docs.join(refs, "part_uri", "left")
            .groupBy("doc_uri")
            .agg(F.countDistinct("part_uri").alias("n_parts"),
                 F.countDistinct("ref_uri").alias("n_part_refs")))


def citation_counts(triples: DataFrame) -> DataFrame:
    """Incoming dcterms:references per target URI: (target_uri,
    n_mentions, n_citing_docs)."""
    refs = triples.where(F.col("pred") == vocab.DCTERMS_REFERENCES)
    return (refs.groupBy(F.col("obj").alias("target_uri"))
            .agg(F.count("*").alias("n_mentions"),
                 F.countDistinct("context").alias("n_citing_docs")))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85, round_to: int = 6,
             ckpt_every: int = 5) -> DataFrame:
    """(vertex, pagerank_r) over directed edges (src, dst).  Classic
    power iteration with the dangling-mass term: rank mass sitting on
    vertices without out-edges is redistributed uniformly each round
    (``new = (1-d)/n + d*(sum_in + dangling_mass/n)``), so ranks keep
    summing to 1.  The dangling mass is a one-row aggregate crossJoined
    back in (broadcast, no driver-side action per iteration).
    Deterministic: fixed iteration count, final round() for cross-run
    float stability.

    Scale shape: the upstream edge DAG is materialized ONCE (not per
    derived table), the out-degree join is loop-invariant and hoisted,
    and both loop inputs are hash-partitioned on the join key sized to
    the edge data (not the global shuffle default), so each iteration
    shuffles only the rank vector.  Broadcasting would be wrong at
    10^12 edges; partitioned reuse is GraphX's shape.  Lineage is cut
    every ``ckpt_every`` rounds — checkpointing every round pays one
    job-scheduling round-trip per iteration for no asymptotic benefit."""
    edges = edges.localCheckpoint()
    nparts = max(edges.rdd.getNumPartitions(), 1)
    verts = (edges.select(F.col("src").alias("vertex"))
             .union(edges.select(F.col("dst").alias("vertex")))
             .distinct()
             .repartition(nparts, "vertex")
             .localCheckpoint())
    n = verts.count()
    if n == 0:
        # empty edge set: empty ranks, not ZeroDivisionError
        return verts.select("vertex",
                            F.lit(0.0).alias("pagerank_r")).limit(0)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    weighted = (edges.join(out_deg, "src")
                .select(F.col("src").alias("vertex"), "dst", "deg")
                .repartition(nparts, "vertex")
                .localCheckpoint())
    sources = out_deg.select(F.col("src").alias("vertex"))
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contribs = (weighted.join(ranks, "vertex")
                    .select(F.col("dst").alias("vertex"),
                            (F.col("rank") / F.col("deg")).alias("c")))
        summed = contribs.groupBy("vertex").agg(F.sum("c").alias("s"))
        dangling = (ranks.join(sources, "vertex", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("_dm")))
        ranks = (verts.join(summed, "vertex", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("vertex",
                         (F.lit((1 - damping) / n)
                          + F.lit(damping)
                          * (F.coalesce("s", F.lit(0.0))
                             + F.col("_dm") / n))
                         .alias("rank")))
        if (i + 1) % ckpt_every == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("vertex", F.round("rank", round_to)
                        .alias("pagerank_r"))


def hits(edges: DataFrame, iterations: int = 10,
         round_to: int = 6) -> DataFrame:
    """(vertex, hub_r, authority_r) over directed edges (src, dst) —
    the reference's second citation-ranking algorithm
    (graphanalyze.py:33 imports networkx hits_alg; :913 runs
    ``hits(graph, max_iter=10000)[1]`` for authorities).  networkx
    semantics mirrored with a fixed iteration count: each round
    computes ``a = A^T h`` (hub mass summed over in-edges), then
    ``h = A a`` from the *un-normalized* a of the same round, then
    normalizes each vector by its max; after the loop both are
    normalized by their sums (networkx ``normalized=True`` default).
    Deterministic: fixed rounds + final round().

    Scale shape matches :func:`pagerank`: edges materialized once and
    hash-partitioned on the join keys, per-round shuffles move only
    the two score vectors, the 1-row max/sum aggregates are broadcast
    crossJoins.  Unlike pagerank (one self-reference per round), each
    HITS round references BOTH vectors twice (scores + their max), so
    an un-materialized plan quadruples per round; the raw vectors are
    therefore localCheckpointed every round and the cheap normalize
    step stays lazy on top of the materialized RDD.  The loop width is
    the smaller of the edge partitioning and the session parallelism —
    the score vectors are |V|-sized, far smaller than a wide upstream
    scan, and 20 fixpoint rounds at scan width would be pure
    task-scheduling overhead (at real scale shuffle.partitions is
    sized to the data and this floor is the edge width)."""
    edges = edges.localCheckpoint()
    nparts = max(1, min(edges.rdd.getNumPartitions(),
                        edges.sparkSession.sparkContext
                        .defaultParallelism))
    verts = (edges.select(F.col("src").alias("vertex"))
             .union(edges.select(F.col("dst").alias("vertex")))
             .distinct()
             .repartition(nparts, "vertex")
             .localCheckpoint())
    n = verts.count()
    if iterations < 1:
        raise ValueError("hits needs iterations >= 1")
    if n == 0:
        # empty citation graph (e.g. a reference-free incremental
        # batch): an empty result frame, not ZeroDivisionError
        return verts.select(
            "vertex", F.lit(0.0).alias("hub_r"),
            F.lit(0.0).alias("authority_r")).limit(0)
    e_src = edges.repartition(nparts, "src").localCheckpoint()
    # second copy partitioned on dst: the h-update joins on dst every
    # round, and reusing e_src there would reshuffle the EDGE table
    # per iteration — the score vectors are what should move, not |E|
    e_dst = edges.repartition(nparts, "dst").localCheckpoint()
    h = verts.withColumn("h", F.lit(1.0 / n))
    a = None
    for i in range(iterations):
        a_in = (e_src.join(h, e_src["src"] == h["vertex"])
                .groupBy(e_src["dst"].alias("vertex"))
                .agg(F.sum("h").alias("s")))
        a_full = (verts.join(a_in, "vertex", "left")
                  .select("vertex",
                          F.coalesce("s", F.lit(0.0)).alias("a"))
                  .localCheckpoint())
        h_out = (e_dst.join(a_full, e_dst["dst"] == a_full["vertex"])
                 .groupBy(e_dst["src"].alias("vertex"))
                 .agg(F.sum("a").alias("s")))
        h_full = (verts.join(h_out, "vertex", "left")
                  .select("vertex",
                          F.coalesce("s", F.lit(0.0)).alias("h"))
                  .localCheckpoint())
        amax = a_full.agg(F.max("a").alias("_amax"))
        hmax = h_full.agg(F.max("h").alias("_hmax"))
        a = (a_full.crossJoin(F.broadcast(amax))
             .select("vertex",
                     (F.col("a") * (F.lit(1.0) / F.col("_amax")))
                     .alias("a")))
        h = (h_full.crossJoin(F.broadcast(hmax))
             .select("vertex",
                     (F.col("h") * (F.lit(1.0) / F.col("_hmax")))
                     .alias("h")))
    asum = a.agg(F.sum("a").alias("_asum"))
    hsum = h.agg(F.sum("h").alias("_hsum"))
    return (h.join(a, "vertex")
            .crossJoin(F.broadcast(asum))
            .crossJoin(F.broadcast(hsum))
            .select("vertex",
                    F.round(F.col("h") * (F.lit(1.0) / F.col("_hsum")),
                            round_to).alias("hub_r"),
                    F.round(F.col("a") * (F.lit(1.0) / F.col("_asum")),
                            round_to).alias("authority_r")))


def citation_hits(triples: DataFrame, iterations: int = 10) -> DataFrame:
    """HITS over the doc->cited-target citation graph (same edge set
    as citation_pagerank)."""
    refs = triples.where(F.col("pred") == vocab.DCTERMS_REFERENCES)
    edges = (refs.select(F.col("context").alias("src"),
                         F.col("obj").alias("dst")).distinct())
    return hits(edges, iterations=iterations)


def citation_pagerank(triples: DataFrame, iterations: int = 10) -> DataFrame:
    """PageRank over the doc->cited-target citation graph (the
    graphanalyze analytic, at document granularity: context url ->
    target uri)."""
    refs = triples.where(F.col("pred") == vocab.DCTERMS_REFERENCES)
    edges = (refs.select(F.col("context").alias("src"),
                         F.col("obj").alias("dst")).distinct())
    return pagerank(edges, iterations=iterations)


RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDFS_SUBCLASSOF = RDFS + "subClassOf"
RDFS_SUBPROPERTYOF = RDFS + "subPropertyOf"
RDFS_DOMAIN = RDFS + "domain"
RDFS_RANGE = RDFS + "range"


def _transitive(pairs):
    """Transitive closure of (child, parent) pairs, cycle-safe,
    self-pairs excluded — driver-side: ontologies are
    dimension-sized (the reference ships ~10 vocabulary files,
    documentrepository `ontologies`; thousands of terms at most)."""
    direct = {}
    for c, p in pairs:
        direct.setdefault(c, set()).add(p)
    closure = []
    for start in direct:
        seen, stack = set(), list(direct[start])
        while stack:
            n = stack.pop()
            if n in seen or n == start:
                continue
            seen.add(n)
            stack.extend(direct.get(n, ()))
        closure.extend((start, a) for a in sorted(seen))
    return closure


def rdfs_entailment(triples: DataFrame, ontology: DataFrame,
                    inferred_only: bool = False) -> DataFrame:
    """RDFS forward chaining (the inference step of KG construction;
    the reference loads its ontologies as rdflib graphs and leaves
    entailment to the triple store — here it is materialized, the
    scalable choice: queries stay plain scans instead of per-query
    reasoning):

    * rdfs9/11 — ``(s type C), C subClassOf* D  ->  (s type D)``
    * rdfs7/5  — ``(s p o),   p subPropertyOf* q -> (s q o)``
    * rdfs2    — ``(s p o),   domain(p) = C      -> (s type C)``
    * rdfs3    — ``(s p o),   range(p)  = C      -> (o type C)``

    Sub-class/property closures are computed driver-side from the
    (dimension-sized) ontology, then everything is broadcast hash
    joins against the fact table — no shuffle of the triples.  Domain/
    range apply AFTER sub-property expansion (a triple inferred via
    rdfs7 also fires its super-property's domain/range, per the RDFS
    semantics fixpoint; one pass suffices because the closures are
    pre-expanded).  Output is distinct; ``inferred_only=True``
    anti-joins the input away (the delta a triple sink appends)."""
    spark = triples.sparkSession
    rows = (ontology.select("subj", "pred", "obj")
            .where(F.col("pred").isin(
                RDFS_SUBCLASSOF, RDFS_SUBPROPERTYOF,
                RDFS_DOMAIN, RDFS_RANGE))
            .collect())
    sc = _transitive([(r.subj, r.obj) for r in rows
                      if r.pred == RDFS_SUBCLASSOF])
    sp = _transitive([(r.subj, r.obj) for r in rows
                      if r.pred == RDFS_SUBPROPERTYOF])
    dom = [(r.subj, r.obj) for r in rows if r.pred == RDFS_DOMAIN]
    rng = [(r.subj, r.obj) for r in rows if r.pred == RDFS_RANGE]

    # every rule branch references the fact table; materialize it once
    # (localCheckpoint) or the union re-executes the upstream pipeline
    # per branch — the cluster analogue is entailing over an already
    # materialized stage table, not a live DAG
    base = triples.select("subj", "pred", "obj", "obj_datatype",
                          "obj_lang", "context").localCheckpoint()
    null_s = F.lit(None).cast("string")

    def _typed(df, subj_col, cls_col):
        return df.select(
            F.col(subj_col).alias("subj"),
            F.lit(vocab.RDF_TYPE).alias("pred"),
            F.col(cls_col).alias("obj"),
            null_s.alias("obj_datatype"), null_s.alias("obj_lang"),
            F.col("context"))

    parts = []
    # rdfs7: super-property copies (kept for domain/range below too)
    facts = base
    if sp:
        sp_df = spark.createDataFrame(sp, "p string, super string")
        via_sp = (base.join(F.broadcast(sp_df),
                            base["pred"] == sp_df["p"])
                  .select("subj", F.col("super").alias("pred"), "obj",
                          "obj_datatype", "obj_lang", "context"))
        parts.append(via_sp)
        # facts feeds up to three later rules (rdfs9/2/3); cut here so
        # the broadcast-join branch isn't replayed per rule
        facts = base.unionByName(via_sp).localCheckpoint()
    # rdfs9: subclass lift of (both asserted and inferred) types
    if sc:
        sc_df = spark.createDataFrame(sc, "cls string, super string")
        types = facts.where(F.col("pred") == vocab.RDF_TYPE)
        parts.append(
            types.join(F.broadcast(sc_df),
                       types["obj"] == sc_df["cls"])
            .select("subj", "pred", F.col("super").alias("obj"),
                    "obj_datatype", "obj_lang", "context"))
    # rdfs2/3 over the sub-property-expanded facts
    if dom:
        dom_df = spark.createDataFrame(dom, "p string, cls string")
        hit = facts.join(F.broadcast(dom_df),
                         facts["pred"] == dom_df["p"])
        parts.append(_typed(hit, "subj", "cls"))
        if sc:
            lifted = hit.join(F.broadcast(sc_df),
                              hit["cls"] == sc_df["cls"])
            parts.append(_typed(lifted, "subj", "super"))
    if rng:
        rng_df = spark.createDataFrame(rng, "p string, cls string")
        # rdfs3 types the OBJECT: only resource objects qualify (same
        # IRI-shape convention as catalog.nt_lines — literals carry a
        # datatype/lang or don't look like absolute IRIs)
        resources = facts.where(
            F.col("obj").rlike(r"^https?://\S+$")
            & F.col("obj_datatype").isNull()
            & F.col("obj_lang").isNull())
        hit = resources.join(F.broadcast(rng_df),
                             resources["pred"] == rng_df["p"])
        parts.append(_typed(hit, "obj", "cls"))
        if sc:
            lifted = hit.join(F.broadcast(sc_df),
                              hit["cls"] == sc_df["cls"])
            parts.append(_typed(lifted, "obj", "super"))
    if not parts:
        return triples.limit(0) if inferred_only else triples
    inferred = parts[0]
    for p in parts[1:]:
        inferred = inferred.unionByName(p)
    # the union stacks every branch's partitions; fold them back to
    # session width before the distinct shuffle (task-count hygiene —
    # no data movement, coalesce only merges read splits)
    width = triples.sparkSession.sparkContext.defaultParallelism
    inferred = inferred.coalesce(width).distinct()
    if inferred_only:
        # the delta is per QUAD: a triple asserted in graph g2 does
        # not cancel its re-derivation in g1 (context is provenance;
        # dropping it would also break batch-locality — full-corpus
        # entailment must equal the union of per-batch entailments)
        b = base.select(
            F.col("subj").alias("__b_subj"),
            F.col("pred").alias("__b_pred"),
            F.col("obj").alias("__b_obj"),
            F.col("context").alias("__b_context"))
        cond = ((inferred["subj"] == b["__b_subj"])
                & (inferred["pred"] == b["__b_pred"])
                & (inferred["obj"] == b["__b_obj"])
                & inferred["context"].eqNullSafe(b["__b_context"]))
        return inferred.join(b, cond, "left_anti")
    return base.unionByName(inferred).distinct()


def ontology_from_turtle(spark, text: str) -> DataFrame:
    """Load an ontology for :func:`rdfs_entailment` from Turtle source
    (the reference ships its vocabularies as .ttl files,
    ferenda/res/vocab/ — DocumentRepository.ontologies loads them with
    rdflib; turtle.parse_turtle is the stdlib-only reader).  Only the
    schema triples matter downstream; literal objects are carried as
    their lexical form."""
    from ..turtle import parse_turtle
    rows = []
    for s, p, o in sorted(parse_turtle(text)):
        rows.append((s, p, o[1]))
    return spark.createDataFrame(rows,
                                 "subj string, pred string, obj string")


def degree_distribution(triples: DataFrame) -> DataFrame:
    """(in_degree, n_targets): how many cited targets have each
    citing-document count — the reference's citegraph degree
    distribution (graphanalyze.py:537-576, minus the matplotlib
    rendering; the histogram is the analytic).  Two hash aggregates,
    no window."""
    return (citation_counts(triples)
            .groupBy(F.col("n_citing_docs").alias("in_degree"))
            .agg(F.count(F.lit(1)).alias("n_targets")))


def average_precision(ranked: DataFrame, gold: DataFrame) -> DataFrame:
    """(query, ap): ranking evaluation with the reference's exact AP
    semantics (eval_calc_aps, graphanalyze.py:760-806): for each gold
    item, precision at its 1-based rank position if it appears in the
    ranking, 0 if absent; AP = mean over the query's gold items.

    ``ranked``: (query, item, rank) with 1-based ranks per query;
    ``gold``: (query, item).  The only window is per-query (rankings
    are per-information-need and bounded), everything else is hash
    joins/aggregates."""
    from pyspark.sql import Window

    rel = gold.select("query", "item").withColumn("__rel", F.lit(1))
    w = Window.partitionBy("query").orderBy("rank")
    marked = (ranked.join(rel, ["query", "item"], "left")
              .withColumn("__cum",
                          F.sum(F.coalesce("__rel", F.lit(0))).over(w)))
    prec = (marked.where(F.col("__rel") == 1)
            .select("query", "item",
                    (F.col("__cum") / F.col("rank")).alias("__p")))
    per_item = (gold.select("query", "item")
                .join(prec, ["query", "item"], "left")
                .select("query",
                        F.coalesce("__p", F.lit(0.0)).alias("__p")))
    return (per_item.groupBy("query")
            .agg(F.avg("__p").alias("ap")))


def mean_average_precision(ap: DataFrame) -> float:
    """MAP over the per-query APs (eval_calc_map,
    graphanalyze.py:805-806) — a 1-row aggregate."""
    row = ap.agg(F.avg("ap").alias("m")).collect()[0]
    return float(row.m) if row.m is not None else 0.0


def triangle_counts(edges: DataFrame, src: str = "doc_a",
                    dst: str = "doc_b") -> DataFrame:
    """Per-node triangle participation over an undirected graph —
    degree-oriented distributed triangle counting (the standard
    MapReduce/Spark formulation; graphanalyze.py's networkx analytics
    family lacks it — a natural extension of the citegraph suite).

    1. normalize to distinct (least, greatest) pairs;
    2. orient every edge from the (degree, id)-smaller endpoint to the
       larger — each triangle is then generated by exactly ONE wedge
       at its lowest-rank corner, and wedge fan-out per node is
       bounded by O(sqrt(|E|)) (the classic orientation bound), which
       is what keeps hub nodes from exploding the self-join at
       10^12-edge scale;
    3. wedges = oriented edge list self-joined on the apex;
    4. a wedge closes iff its (p, q) pair is itself an oriented edge;
    5. explode the three corners, ONE groupBy for per-node counts.

    Returns (node, n_triangles)."""
    und = _normalize_undirected(edges, src, dst)
    deg = _degrees(und)
    return _triangles_from_und(und, deg)


def _normalize_undirected(edges, src, dst):
    """Distinct (least, greatest) pairs, loops dropped, lineage cut —
    the downstream self-joins must not re-evaluate the (possibly
    expensive) upstream edge plan on every side."""
    a, b = F.col(src), F.col(dst)
    return (edges.select(F.least(a, b).alias("u"),
                         F.greatest(a, b).alias("v"))
            .where(F.col("u") != F.col("v")).distinct()
            .localCheckpoint())


def _degrees(und):
    return (und.select(F.col("u").alias("n"))
            .unionByName(und.select(F.col("v").alias("n")))
            .groupBy("n").agg(F.count("*").alias("d")))


def _triangles_from_und(und, deg):
    e = (und
         .join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")),
               "u")
         .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")),
               "v"))
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    o = e.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(ru < rv, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(ru < rv, rv).otherwise(ru).alias("rhi"))
    # no distinct: und is already a distinct simple-edge set and the
    # orientation is 1:1
    x, y = o.alias("x"), o.alias("y")
    wedges = (x.join(y, (F.col("x.lo") == F.col("y.lo"))
                     & (F.col("x.rhi") < F.col("y.rhi")))
              .select(F.col("x.lo").alias("apex"),
                      F.col("x.hi").alias("p"),
                      F.col("y.hi").alias("q")))
    closing = o.select(F.col("lo").alias("p"), F.col("hi").alias("q"))
    tri = wedges.join(closing, ["p", "q"])
    corners = tri.select(
        F.explode(F.array("apex", "p", "q")).alias("node"))
    return corners.groupBy("node").agg(
        F.count("*").alias("n_triangles"))


def clustering_coefficients(edges: DataFrame, src: str = "doc_a",
                            dst: str = "doc_b") -> DataFrame:
    """Local clustering coefficient per node: 2*triangles / (d*(d-1))
    over the undirected simple graph — the density companion to
    :func:`triangle_counts` (a node at 1.0 sits in a clique; near 0,
    in a star/chain).  Degrees and triangle counts are each one
    groupBy; the combine is a left join (nodes in no triangle score
    0).  The normalized edge set and the degree table are computed
    ONCE and shared with the triangle kernel (the upstream edge plan —
    an LSH self-join in kg_dup_clustering — would otherwise
    re-evaluate).  Returns (node, degree, n_triangles, clustering)."""
    und = _normalize_undirected(edges, src, dst)
    degs = _degrees(und)
    deg = degs.select(F.col("n").alias("node"),
                      F.col("d").alias("degree"))
    tri = _triangles_from_und(und, degs)
    d = F.col("degree").cast("double")
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
    return (deg.join(tri, "node", "left")
            .select("node", "degree",
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    .cast("long").alias("n_triangles"),
                    F.round(F.when(F.col("degree") >= 2,
                                   2.0 * t / (d * (d - 1.0)))
                            .otherwise(F.lit(0.0)), 6)
                    .alias("clustering")))


def _bounded_common_neighbors(und, deg, max_degree,
                              with_aa_weight=False):
    """Shared skew-bounded common-neighbor machinery for the link
    predictors: spokes through every neighbour z with deg(z) in
    [2, max_degree] (the hub cut that bounds wedge fan-out), wedge
    self-join on z, and the (x < y) pair aggregate.  Returns
    (x, y, n_common[, aa_score]) with ADJACENT pairs still included
    — follow with :func:`_non_adjacent`."""
    spokes = (und.select(F.col("u").alias("z"), F.col("v").alias("x"))
              .unionByName(
                  und.select(F.col("v").alias("z"),
                             F.col("u").alias("x"))))
    zf = deg.where((F.col("d") <= max_degree) & (F.col("d") >= 2))
    if with_aa_weight:
        zf = zf.select(F.col("n").alias("z"),
                       (1.0 / F.log(F.col("d").cast("double")))
                       .alias("w"))
        wedge = spokes.join(zf, "z")
        a = wedge.select("z", "x", "w")
    else:
        zf = zf.select(F.col("n").alias("z"))
        wedge = spokes.join(zf, "z")
        a = wedge.select("z", "x")
    b = wedge.select("z", F.col("x").alias("y"))
    g = (a.join(b, "z")
         .where(F.col("x") < F.col("y"))
         .groupBy("x", "y"))
    if with_aa_weight:
        return g.agg(F.count("*").alias("n_common"),
                     F.round(F.sum("w"), 6).alias("aa_score"))
    return g.agg(F.count("*").alias("n_common"))


def _non_adjacent(pairs, und):
    """Drop pairs that are themselves edges of the (normalized)
    graph — the link predictors score MISSING links only."""
    return pairs.join(
        und, (pairs["x"] == und["u"]) & (pairs["y"] == und["v"]),
        "left_anti")


def adamic_adar(edges: DataFrame, src: str = "doc_a",
                dst: str = "doc_b", max_degree: int = 64) -> DataFrame:
    """Adamic-Adar link prediction over an undirected simple graph:
    for every NON-adjacent pair (x, y), AA(x, y) = sum over common
    neighbours z of 1/ln(deg(z)) — the classic missing-link score
    (Adamic & Adar 2003; in KG construction: suggest sameAs /
    relatedness candidates the extractor missed, the predictive
    companion to graphanalyze.py's descriptive citegraph analytics).

    Scale shape (10^12 edges): wedge generation through a common
    neighbour z fans out deg(z)^2 — a hub would explode the
    self-join, so neighbours with deg > ``max_degree`` are excluded
    up front (the standard production cut: a hub's 1/ln(deg) weight
    is negligible AND its co-citation signal is meaningless; the cut
    must be mirrored by any oracle).  After the cut, the wedge join is
    an equi-join on z with bounded fan-out, the score is one
    groupBy(x, y), and the non-adjacency test is a left-anti join
    against the (normalized) edge set — every shuffle is keyed,
    nothing is quadratic in nodes.

    Returns (node_a, node_b, n_common, aa_score) for non-adjacent
    pairs with >= 1 (degree-bounded) common neighbour; node_a <
    node_b; aa_score rounded to 6 (float-sum order portability)."""
    und = _normalize_undirected(edges, src, dst)
    deg = _degrees(und)
    pair_scores = _bounded_common_neighbors(und, deg, max_degree,
                                            with_aa_weight=True)
    return (_non_adjacent(pair_scores, und)
            .select(F.col("x").alias("node_a"),
                    F.col("y").alias("node_b"),
                    "n_common", "aa_score"))


def kcore(edges: DataFrame, k: int = 2, src: str = "doc_a",
          dst: str = "doc_b") -> DataFrame:
    """k-core decomposition membership by iterative peeling (the
    standard distributed formulation): repeatedly delete vertices
    whose current degree is below ``k`` until a fixpoint; survivors
    form the k-core.  Completes the citegraph analytics family next
    to pagerank/HITS/triangles/clustering — cores are the dense
    nucleus detector (spam link farms, template families in a
    dup-pair graph).

    Scale shape: each round is one degree groupBy plus two anti-joins
    keyed on the vertex — no vertex ever sees more than its own
    adjacency; rounds are bounded by the longest pendant chain, not
    |V|, and every round that does not stop deletes at least one
    vertex, so the loop needs no cap; the edge frame is
    localCheckpointed every round (it is referenced by both sides of
    the next round's anti-joins, and the lineage would otherwise
    double per round).  The per-round
    convergence probe is a count on the (shrinking) sub-k vertex set.

    Returns (node, in_core, core_degree): one row per vertex of the
    input graph; ``core_degree`` is the degree within the k-core
    (NULL for peeled vertices)."""
    und = _normalize_undirected(edges, src, dst)
    all_nodes = (und.select(F.col("u").alias("n"))
                 .unionByName(und.select(F.col("v").alias("n")))
                 .distinct().localCheckpoint())
    cur = und
    while True:
        deg = _degrees(cur)
        bad = deg.where(F.col("d") < k).select("n").localCheckpoint()
        if bad.isEmpty():
            break
        cur = (cur
               .join(bad.withColumnRenamed("n", "u"), "u", "anti")
               .join(bad.withColumnRenamed("n", "v"), "v", "anti")
               .select("u", "v")
               .localCheckpoint())
    core_deg = _degrees(cur).withColumnRenamed("d", "core_degree")
    return (all_nodes.join(core_deg, all_nodes.n == core_deg.n, "left")
            .select(all_nodes.n.alias("node"),
                    core_deg.n.isNotNull().alias("in_core"),
                    "core_degree"))


def ndcg(ranked: DataFrame, gold: DataFrame) -> DataFrame:
    """Binary-relevance nDCG per query, completing the ranking-
    evaluation family next to :func:`average_precision` (the
    reference's MAP study, graphanalyze.py:760-806, reports AP only;
    nDCG is the position-discounted counterpart).  DCG = sum over
    gold hits of ln2/ln(rank+1) (identically the log2 discount);
    ideal DCG places all gold items at the top, truncated to the
    ranking's length.

    ``ranked``: (query, item, rank) 1-based; ``gold``: (query, item).
    Queries with no gold items are dropped (nDCG undefined).  All
    joins are query/item-keyed; the ideal-DCG sum is a per-row fold
    over a sequence bounded by the gold size — no window at all.

    Returns (query, n_gold, ndcg) with ndcg rounded to 6."""
    ln2 = F.log(F.lit(2.0))
    hits = (ranked.join(gold.select("query", "item"), ["query", "item"])
            .select("query", (ln2 / F.log(F.col("rank") + 1)).alias("g")))
    dcg = hits.groupBy("query").agg(F.sum("g").alias("dcg"))
    nr = ranked.groupBy("query").agg(F.count("*").alias("n_ranked"))
    ng = gold.groupBy("query").agg(F.count("*").alias("n_gold"))
    # m >= 1 by construction (inner join on queries that HAVE gold);
    # sequence(1, 0) would descend, so the guard matters
    m = F.least("n_gold", "n_ranked")
    idcg = (ng.join(nr, "query")
            .select("query", "n_gold",
                    F.aggregate(
                        F.sequence(F.lit(1), m), F.lit(0.0),
                        lambda a, i: a + ln2 / F.log(i + 1))
                    .alias("idcg")))
    return (idcg.join(dcg, "query", "left")
            .select("query", "n_gold",
                    F.round(F.coalesce(F.col("dcg"), F.lit(0.0))
                            / F.col("idcg"), 6).alias("ndcg")))


def jaccard_neighbors(edges: DataFrame, src: str = "doc_a",
                      dst: str = "doc_b",
                      max_degree: int = 64) -> DataFrame:
    """Neighborhood-Jaccard link prediction next to
    :func:`adamic_adar`: for non-adjacent (x, y),
    J = n_common / (deg(x) + deg(y) - n_common).  Common neighbours
    are counted through the same hub cut (z with deg > max_degree is
    excluded — mirrored by the oracle), while deg(x)/deg(y) are the
    TRUE degrees; same wedge/anti-join shape and scale bounds as
    Adamic-Adar.

    Returns (node_a, node_b, n_common, jaccard) rounded to 6."""
    und = _normalize_undirected(edges, src, dst)
    deg = _degrees(und)
    pairs = _bounded_common_neighbors(und, deg, max_degree)
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    scored = (pairs.join(dx, "x").join(dy, "y")
              .select("x", "y", "n_common",
                      F.round(F.col("n_common")
                              / (F.col("dx") + F.col("dy")
                                 - F.col("n_common")), 6)
                      .alias("jaccard")))
    return (_non_adjacent(scored, und)
            .select(F.col("x").alias("node_a"),
                    F.col("y").alias("node_b"),
                    "n_common", "jaccard"))


def degree_assortativity(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of end-point degrees over all edge ends — one scalar
    describing whether hubs attach to hubs (r > 0) or to leaves
    (r < 0).  Computed from exact integer sums (cast to
    decimal(38,0): sums of d^2 over 10^12 edge ends overflow int64)
    so both engines derive the same double; rounded to 6.

    Scale shape: two degree joins keyed on the node and ONE 1-row
    aggregate — no window, no collect beyond the scalar.

    Returns one row (n_edge_ends, assortativity); NULL when the
    variance is zero (regular graph)."""
    und = _normalize_undirected(edges, src, dst)
    deg = _degrees(und)
    both = (und.select("u", "v")
            .unionByName(und.select(F.col("v").alias("u"),
                                    F.col("u").alias("v"))))
    du = deg.select(F.col("n").alias("u"),
                    F.col("d").cast("decimal(38,0)").alias("x"))
    dv = deg.select(F.col("n").alias("v"),
                    F.col("d").cast("decimal(38,0)").alias("y"))
    j = both.join(du, "u").join(dv, "v")
    s = j.agg(F.count("*").cast("decimal(38,0)").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = (F.col("n") * F.col("sxy")
           - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx")
            - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy")
            - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_edge_ends"),
        F.round(num / F.sqrt(varx * vary), 6).alias("assortativity"))


def bfs_distances(edges: DataFrame, sources: DataFrame,
                  max_hops: int = 8, src: str = "doc_a",
                  dst: str = "doc_b") -> DataFrame:
    """Multi-source BFS: shortest hop-distance from any seed node,
    layer-synchronous (the standard Pregel formulation as DataFrame
    rounds).  ``sources``: one column ``node``.  Returns (node, dist)
    for every node within ``max_hops`` of a seed; unreachable nodes
    are absent.

    One :func:`reach` from the seeds at dist 0: per round one
    frontier-keyed equi-join plus one anti-join against the visited
    set, so per-round cost is O(edges touched by the frontier), the
    shape that survives billion-node link graphs."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    seeds = (sources.select(F.col("node").cast("long"),
                            F.lit(0).alias("dist"))
             .distinct())
    return reach(e, seeds, max_hops)


def neighbor_feature_agg(edges: DataFrame, features: DataFrame,
                         src: str = "doc_a", dst: str = "doc_b",
                         feature_col: str = "feature") -> DataFrame:
    """GraphSAGE-style neighborhood aggregation as two rounds of
    join + groupBy: for every node with out-edges, the count and sum
    of its 1-hop out-neighbors' feature and of its 2-hop (path-count
    semantics — a node reachable twice contributes twice, exactly the
    message-passing convention).  The standard feature-engineering
    step before KG-embedding / node-classification training.

    Shape: hop 1 is one edge-keyed join + one src groupBy; hop 2
    composes the edge table with itself first (fan-out bounded by
    out-degree — the citation graph's is 2) and repeats.  At 10^12
    edges the self-join is the same dst/src equi-join pagerank rounds
    do; no window, no collect.  Returns (node, h1_n, h1_sum, h2_n,
    h2_sum) with zero-filled hop-2 columns for nodes whose neighbors
    have no out-edges."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    f = features.select(F.col("node").alias("v"),
                        F.col(feature_col).cast("long").alias("x"))
    h1 = (e.join(f, "v")
          .groupBy(F.col("u").alias("node"))
          .agg(F.count(F.lit(1)).cast("long").alias("h1_n"),
               F.sum("x").cast("long").alias("h1_sum")))
    e2 = (e.join(e.select(F.col("u").alias("v"),
                          F.col("v").alias("w")), "v")
          .select("u", F.col("w").alias("v")))
    h2 = (e2.join(f, "v")
          .groupBy(F.col("u").alias("node"))
          .agg(F.count(F.lit(1)).cast("long").alias("h2_n"),
               F.sum("x").cast("long").alias("h2_sum")))
    return (h1.join(h2, "node", "left")
            .select("node", "h1_n", "h1_sum",
                    F.coalesce("h2_n", F.lit(0)).cast("long")
                    .alias("h2_n"),
                    F.coalesce("h2_sum", F.lit(0)).cast("long")
                    .alias("h2_sum")))


def label_propagation(edges: DataFrame, rounds: int = 4,
                      src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007): every node starts as its own label; each
    round it adopts the most frequent label among its undirected
    neighbors, ties broken toward the smallest label.  Fully
    deterministic (min-of-argmax tie-break, synchronous update), so
    the same rounds unroll to the same answer in any engine — the
    driver oracle mirrors the rounds in SQL.

    The reference has no community op; its nearest analogue is the
    graphanalyze clustering discussion
    (/root/reference/ferenda/sources/general/graphanalyze.py) which
    shells out to single-node tools.  Here each round is one
    edge⋈label equi-join + a (node,label) count groupBy + a per-node
    max window + a min groupBy — all shuffles keyed on node ids, no
    collect, no window over the whole graph.  The label frame is
    localCheckpointed per round (it feeds the next round's join and
    the final output; without the cut the plan doubles per round).
    At 10^12 edges this is the same per-round cost as pagerank.
    Returns (node, label)."""
    from pyspark.sql import Window
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    und = (e.unionByName(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
           .distinct())
    labels = (und.select(F.col("u").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    w = Window.partitionBy("node")
    for _ in range(rounds):
        cnt = (und.join(labels.withColumnRenamed("node", "v"), "v")
               .groupBy(F.col("u").alias("node"), "label")
               .agg(F.count(F.lit(1)).alias("c")))
        labels = (cnt.withColumn("mx", F.max("c").over(w))
                  .where(F.col("c") == F.col("mx"))
                  .groupBy("node")
                  .agg(F.min("label").alias("label"))
                  .localCheckpoint(eager=True))
    return labels


def transitive_reduction(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b") -> DataFrame:
    """Transitive reduction of a DAG: drop every edge (u, v) that is
    implied by a longer path u -> ... -> v — the cleanup step after
    Hearst-pattern taxonomy mining, where "metals such as copper" and
    "elements such as copper" plus "elements such as metals" make the
    element->copper edge redundant.

    One :func:`reach` seeded with the two-hop pairs gives every pair
    connected by a path of 2 or more edges; one anti-join removes the
    edges whose endpoints appear there.  On a cyclic input the pairs
    are still well-defined (a cycle member reaches itself in >=2
    steps, so cycle edges are all "implied" and dropped); DAG-ness is
    the caller's contract.  Returns the surviving (src, dst) edges."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .distinct().localCheckpoint(eager=True))
    two_hop = (e.join(e.select(F.col("u").alias("v"),
                               F.col("v").alias("w")), "v")
               .select(F.col("u").alias("root"), F.col("w").alias("node"),
                       F.lit(2).alias("dist"))
               .distinct())
    implied = reach(e, two_hop).select(F.col("root").alias("u"),
                                       F.col("node").alias("v"))
    return (e.join(implied, ["u", "v"], "anti")
            .select(F.col("u").alias(src), F.col("v").alias(dst)))


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          iterations: int = 3, alpha: float = 0.5,
                          src: str = "doc_a",
                          dst: str = "doc_b") -> DataFrame:
    """Personalized PageRank from a seed set — the entity-relatedness
    workhorse (seeded random walk with restart; what wikification
    systems use to score candidate coherence).  Per-seed restart mass
    is 1.0 (multi-source variant); dangling mass is dropped, not
    redistributed — both documented so the fixture oracle can unroll
    the exact same recursion.

    r_0 = alpha on seeds; r_{k+1} = alpha*seed + (1-alpha) * sum over
    in-edges of r_k(u)/outdeg(u).  With alpha a dyadic rational and
    planted out-degrees that are powers of two, every score is an
    exact IEEE double, so the driver oracle compares hash-exact — no
    float tolerance needed.

    Shape per round: one src-keyed join of the score vector to the
    out-degree-annotated edge list + one dst groupBy — identical to a
    global pagerank round; the vector is localCheckpointed per round
    (it feeds the join and the next union).  Returns (node, score)
    for nodes with nonzero mass."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ew = e.join(outdeg, "u")
    seed_vec = (seeds.select(F.col("node").cast("long"))
                .distinct()
                .withColumn("seed_mass", F.lit(float(alpha)))
                .localCheckpoint(eager=True))
    r = seed_vec.select("node", F.col("seed_mass").alias("score"))
    for _ in range(iterations):
        spread = (r.join(ew, r["node"] == ew["u"])
                  .select(F.col("v").alias("node"),
                          (F.col("score") * (1.0 - alpha) / F.col("d"))
                          .alias("part")))
        r = (spread.groupBy("node")
             .agg(F.sum("part").alias("score"))
             .join(seed_vec, "node", "full_outer")
             .select("node",
                     (F.coalesce("score", F.lit(0.0))
                      + F.coalesce("seed_mass", F.lit(0.0)))
                     .alias("score"))
             .localCheckpoint(eager=True))
    return r


def hyperball(edges: DataFrame, rounds: int = 2, m: int = 16,
              src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """HyperBall (Boldi & Vigna, "In-core computation of geometric
    centralities with HyperBall", 2013): the neighborhood function
    N(v, r) = |{u : dist(v, u) <= r}| for every node at every radius,
    approximated with per-node HyperLogLog counters — THE algorithm
    behind the "four degrees of separation" web-graph measurements,
    and the only way to get effective-diameter / closeness on a
    10^12-edge link graph (exact per-node BFS is |V| traversals).

    Restated as DataFrame rounds over a register table
    (node, register, max_rank): radius 0 is each node's own hashed
    id; each round unions a node's registers with its out-neighbors'
    registers from the previous radius and takes groupBy-max — HLL
    union IS max, which is what makes the counters mergeable along
    edges.  Per round: one dst-keyed equi-join + one (node, register)
    groupBy with map-side partial max; the register table is at most
    m rows per node regardless of ball size, so per-round traffic is
    O(m * |E|) — bounded, unlike materializing actual balls.  The
    accumulating table is localCheckpointed per round (it feeds both
    the union and the join; same loop discipline as pagerank above).

    Registers use the portable md5 recipe from
    ``sketches.hll_registers`` (salt "hb"), so the emitted table is
    integer-exact across engines; cardinality estimates (harmonic
    mean -> N(v,r), then effective diameter = smallest r with
    N(r) >= 0.9 * N(max)) stay consumer-side floats, tested in
    pytest.  Returns (node, radius, register, max_rank) for radii
    0..rounds."""
    from .sketches import _h
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct())
    h = _h(F.col("node"), "hb")
    rest = ((h - h % m) / F.lit(m)).cast("long")
    rank = (F.when(rest == 0, F.lit(25))
            .otherwise(F.bit_count(rest.bitwiseXOR(rest - 1))))
    cur = (nodes.select("node", (h % m).alias("register"),
                        rank.cast("int").alias("max_rank"))
           .localCheckpoint(eager=True))
    out = cur.select("node", F.lit(0).alias("radius"),
                     "register", "max_rank")
    for r in range(1, rounds + 1):
        pulled = (e.join(cur, cur["node"] == e["v"])
                  .select(F.col("u").alias("node"),
                          "register", "max_rank"))
        cur = (cur.unionByName(pulled)
               .groupBy("node", "register")
               .agg(F.max("max_rank").cast("int").alias("max_rank"))
               .localCheckpoint(eager=True))
        out = out.unionByName(
            cur.select("node", F.lit(r).alias("radius"),
                       "register", "max_rank"))
    return out


def hll_estimate(registers, m: int = 16):
    """Consumer-side HLL cardinality estimate from a register list
    (small-range corrected, Flajolet et al. 2007) — driver-side
    helper for hyperball()'s pytest assertions; never crosses the
    engine boundary."""
    import math
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m))
    regs = [0] * m
    for reg, rk in registers:
        regs[reg] = max(regs[reg], rk)
    est = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / float(zeros))
    return est


RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
OWL = "http://www.w3.org/2002/07/owl#"
OWL_INVERSEOF = OWL + "inverseOf"
OWL_SYMMETRIC = OWL + "SymmetricProperty"
OWL_TRANSITIVE = OWL + "TransitiveProperty"


def rdf_list_flatten(triples: DataFrame,
                     max_len: int = 32) -> DataFrame:
    """Flatten RDF collections (rdf:first / rdf:rest cons-cell
    chains, RDF 1.1 §5.2 — how ordered values like author lists are
    modelled in RDF) into positional rows (subj, pred, idx, member):
    one row per list element of every list anchored by a non-list
    triple (s, p, head-cell).

    The linked list is walked layer-synchronously: round k holds the
    k-th cell of every list simultaneously, so the number of joins is
    the MAXIMUM list length, not the list count — a million 3-element
    lists cost 3 rounds, each one cell-keyed equi-join against the
    rest-edge table plus one against first.  The frontier is
    localCheckpointed per round (it feeds both the member-emit join
    and the advance join).  ``max_len`` bounds adversarial/cyclic
    chains (cells revisited past it are dropped); rounds also stop
    as soon as a frontier is empty."""
    t = triples.select("subj", "pred", "obj")
    first = (t.where(F.col("pred") == RDF_FIRST)
             .select(F.col("subj").alias("cell"),
                     F.col("obj").alias("member")))
    rest = (t.where((F.col("pred") == RDF_REST)
                    & (F.col("obj") != RDF_NIL))
            .select(F.col("subj").alias("cell"),
                    F.col("obj").alias("nxt")))
    heads = first.select("cell").distinct()
    cur = (t.where(~F.col("pred").isin(RDF_FIRST, RDF_REST))
           .join(heads, t["obj"] == heads["cell"])
           .select("subj", "pred", "cell")
           .localCheckpoint(eager=True))
    out = None
    for idx in range(max_len):
        emitted = (cur.join(first, "cell")
                   .select("subj", "pred",
                           F.lit(idx).cast("long").alias("idx"),
                           "member"))
        out = emitted if out is None else out.unionByName(emitted)
        cur = (cur.join(rest, "cell")
               .select("subj", "pred", F.col("nxt").alias("cell"))
               .localCheckpoint(eager=True))
        if cur.isEmpty():
            break
    return out


def owl_entailment(triples: DataFrame, ontology: DataFrame,
                   inferred_only: bool = False) -> DataFrame:
    """OWL-RL property-axiom forward chaining, the step beyond
    ``rdfs_entailment`` (rules prp-inv1/2, prp-symp, prp-trp of the
    OWL 2 RL profile — the fragment materializable at scale):

    * ``owl:inverseOf(p, q)``:  (s p o) -> (o q s)  and  (s q o) ->
      (o p s) — both directions, per the axiom's symmetry.
    * ``p rdf:type owl:SymmetricProperty``:  (s p o) -> (o p s).
    * ``p rdf:type owl:TransitiveProperty``:  (s p o), (o p x) ->
      (s p x) — one :func:`reach` over every transitive property
      at once: labels (subj, context, pred) seeded at each fact's
      object, ``pred`` also the edge key, so each chain is closed to
      its full depth, one hop per round.

    The ontology is dimension-sized and collected driver-side (same
    sanctioned shape as rdfs_entailment); inverse/symmetric rules are
    broadcast joins against the fact table, which is
    localCheckpointed once.  Emitted triples carry NULL datatype/lang
    (they are IRI-object rules) and keep the source row's context."""
    rows = (ontology.select("subj", "pred", "obj")
            .where((F.col("pred") == OWL_INVERSEOF)
                   | ((F.col("pred") == vocab.RDF_TYPE)
                      & F.col("obj").isin(OWL_SYMMETRIC,
                                          OWL_TRANSITIVE)))
            .collect())
    inv = []
    for r in rows:
        if r.pred == OWL_INVERSEOF:
            inv.append((r.subj, r.obj))
            inv.append((r.obj, r.subj))
    sym = sorted({r.subj for r in rows
                  if r.pred == vocab.RDF_TYPE
                  and r.obj == OWL_SYMMETRIC})
    trans = sorted({r.subj for r in rows
                    if r.pred == vocab.RDF_TYPE
                    and r.obj == OWL_TRANSITIVE})
    base = triples.select("subj", "pred", "obj", "obj_datatype",
                          "obj_lang", "context").localCheckpoint()
    spark = triples.sparkSession
    null_s = F.lit(None).cast("string")
    parts = []
    if inv:
        inv_df = F.broadcast(spark.createDataFrame(
            sorted(set(inv)), "p string, q string"))
        parts.append(
            base.join(inv_df, base["pred"] == inv_df["p"])
            .select(F.col("obj").alias("subj"),
                    F.col("q").alias("pred"),
                    F.col("subj").alias("obj"),
                    null_s.alias("obj_datatype"),
                    null_s.alias("obj_lang"), "context"))
    if sym:
        parts.append(
            base.where(F.col("pred").isin(*sym))
            .select(F.col("obj").alias("subj"), "pred",
                    F.col("subj").alias("obj"),
                    null_s.alias("obj_datatype"),
                    null_s.alias("obj_lang"), "context"))
    if trans:
        facts = (base.where(F.col("pred").isin(*trans))
                 .select("subj", "pred", "obj", "context").distinct())
        edges = facts.select(F.col("subj").alias("u"),
                             F.col("obj").alias("v"), "pred").distinct()
        seeds = facts.select("subj", "context", "pred",
                             F.col("obj").alias("node"),
                             F.lit(1).alias("dist"))
        parts.append(reach(edges, seeds).select(
            "subj", "pred", F.col("node").alias("obj"),
            null_s.alias("obj_datatype"), null_s.alias("obj_lang"),
            "context"))
    if not parts:
        inferred = base.limit(0)
    else:
        inferred = parts[0]
        for p_ in parts[1:]:
            inferred = inferred.unionByName(p_)
    out = base.unionByName(inferred).distinct()
    if inferred_only:
        out = out.join(base, ["subj", "pred", "obj"], "left_anti")
    return out


def scc_labels(edges: DataFrame, src: str = "src",
               dst: str = "dst") -> DataFrame:
    """Strongly connected components by distributed coloring (Orzan
    2004; the algorithm behind Pegasus/GraphX SCC) — the directed
    counterpart of the sameAs connected-components canonicalizer in
    ``operators/canonicalize.py``, and the first step of the classic
    web bow-tie decomposition (Broder et al., WWW 2000).

    Each outer round:

    1. *forward coloring to fixpoint*: every active vertex starts as
       its own color; colors propagate along edge direction taking
       the max — at fixpoint ``color(v)`` = max active vertex that
       reaches v (v included);
    2. vertices with ``color(v) == v`` are roots; the SCC of root c
       is recovered by *backward marking within color c*: one
       :func:`reach` from the roots over the reversed same-color
       edges, ``color`` both label and key (u joins when it has an
       edge into a marked same-color vertex — u already reaches c
       forward by its color, and now c reaches u back, so
       u ∈ SCC(c));
    3. marked vertices are emitted with ``scc = color`` (the max
       member id, matching the canonicalizer's max-representative
       convention) and removed; the remainder re-colors next round.

    Every step is an edge⋈label equi-join + a per-vertex max groupBy
    — shuffles keyed on vertex ids only, no collect; label frames
    are localCheckpointed per iteration (each feeds both the next
    join and the convergence count — the pagerank/HITS loop
    discipline).  Coloring runs until no color changes; the outer
    loop runs until no vertex is active, which always ends because
    each round marks at least the largest active vertex.  Worst case
    outer rounds = number of "peel layers" (deep DAG chains degrade —
    the documented quadratic risk shared with every coloring SCC);
    web graphs peel in a handful.

    Returns (node, scc).
    """
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull())
         .distinct()
         .localCheckpoint(eager=True))
    verts = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct()
             .localCheckpoint(eager=True))
    out = None
    active = verts
    while not active.isEmpty():
        ae = (e.join(active.withColumnRenamed("node", "u"), "u",
                     "left_semi")
              .join(active.withColumnRenamed("node", "v"), "v",
                    "left_semi")
              .localCheckpoint(eager=True))
        colors = active.withColumn("color", F.col("node")) \
                       .localCheckpoint(eager=True)
        while True:
            upd = (ae.join(colors.select(F.col("node").alias("u"),
                                         "color"), "u")
                   .groupBy(F.col("v").alias("node"))
                   .agg(F.max("color").alias("up")))
            nxt = (colors.join(upd, "node", "left")
                   .select("node",
                           F.greatest("color", "up").alias("color"))
                   .localCheckpoint(eager=True))
            changed = (nxt.join(colors.withColumnRenamed(
                "color", "old"), "node")
                .where(F.col("color") != F.col("old")).limit(1).count())
            colors = nxt
            if changed == 0:
                break
        roots = colors.where(F.col("color") == F.col("node")).select(
            "color", "node", F.lit(0).alias("dist"))
        back = (ae.join(colors.select(F.col("node").alias("u"),
                                      F.col("color").alias("cu")), "u")
                .join(colors.select(F.col("node").alias("v"),
                                    F.col("color").alias("cv")), "v")
                .where(F.col("cu") == F.col("cv"))
                .select(F.col("v").alias("u"), F.col("u").alias("v"),
                        F.col("cu").alias("color")))
        marked = reach(back, roots)
        found = marked.select("node", F.col("color").alias("scc"))
        out = found if out is None else out.unionByName(found)
        out = out.localCheckpoint(eager=True)
        active = (active.join(marked.select("node"), "node",
                              "left_anti")
                  .localCheckpoint(eager=True))
    return out if out is not None else verts.select(
        "node", F.col("node").alias("scc")).limit(0)


def bowtie_classes(edges: DataFrame, scc: DataFrame,
                   src: str = "src", dst: str = "dst") -> DataFrame:
    """Bow-tie decomposition of a directed graph around its largest
    SCC (Broder et al., WWW 2000): CORE (the largest SCC), IN (can
    reach the core), OUT (reachable from the core), OTHER (tendrils
    and disconnected).  Consumes :func:`scc_labels` output.

    Largest SCC = max size, ties to the smaller scc id (pure function
    of the input).  IN/OUT are two :func:`reach` fixpoints from the
    core (on reversed edges, on edges).  Returns (node, cls).
    """
    sizes = (scc.groupBy("scc")
             .agg(F.count(F.lit(1)).alias("n")))
    top = (sizes.orderBy(F.col("n").desc(), F.col("scc").asc())
           .limit(1).collect())
    if not top:
        return scc.select("node", F.lit("OTHER").alias("cls")).limit(0)
    core_id = top[0]["scc"]
    core = (scc.where(F.col("scc") == F.lit(core_id)).select("node")
            .localCheckpoint(eager=True))
    seeds = core.withColumn("dist", F.lit(0))
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .distinct().localCheckpoint(eager=True))

    out_set = reach(e, seeds).select("node")
    in_set = reach(e.select(F.col("v").alias("u"), F.col("u").alias("v")),
                   seeds).select("node")
    nodes = scc.select("node")
    return (nodes
            .join(core.withColumn("c", F.lit(1)), "node", "left")
            .join(in_set.withColumn("i", F.lit(1)), "node", "left")
            .join(out_set.withColumn("o", F.lit(1)), "node", "left")
            .select("node",
                    F.when(F.col("c") == 1, "CORE")
                    .when(F.col("i") == 1, "IN")
                    .when(F.col("o") == 1, "OUT")
                    .otherwise("OTHER").alias("cls")))


# ------------------------------------------------------ schema graph

_RDF_TYPE_URI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def schema_graph(triples: DataFrame, subj_col: str = "subj",
                 pred_col: str = "pred", obj_col: str = "obj",
                 type_pred: str = _RDF_TYPE_URI,
                 literal_cls: str = "<literal>") -> DataFrame:
    """Schema-graph summarization of an instance KG: collapse every
    triple to its (subject class, predicate, object class) signature
    with edge counts -- the LOD-stats / ABSTAT-style structural
    profile a KG consumer reads before writing queries, and the shape
    inventory schema matching aligns against.  Objects that are not
    typed entities (literals, dates, free strings) map to
    ``literal_cls``.

    Program: distinct (entity, class) assertions; distinct non-type
    triples; one join per endpoint (subject join is inner -- untyped
    subjects carry no signature; object join is left), then ONE
    groupBy on the (class, pred, class) dimension.  Multi-typed
    endpoints contribute one signature per class pair -- standard
    summarization semantics.

    Scale shape: the joins are keyed on entity URIs (no hotspot
    beyond the KG's own skew); the output is vocabulary-sized.
    Returns (subj_cls, pred, obj_cls, n_triples).
    """
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    types = (triples.where(p == type_pred)
             .select(s.alias("e"), o.alias("cls")).distinct())
    rel = (triples.where(p != type_pred)
           .select(s.alias("s"), p.alias("pred"), o.alias("o"))
           .distinct())
    st = types.select(F.col("e").alias("s"),
                      F.col("cls").alias("subj_cls"))
    ot = types.select(F.col("e").alias("o"),
                      F.col("cls").alias("obj_cls"))
    return (rel.join(st, "s")
            .join(ot, "o", "left")
            .select("subj_cls", "pred",
                    F.coalesce("obj_cls", F.lit(literal_cls))
                    .alias("obj_cls"))
            .groupBy("subj_cls", "pred", "obj_cls")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triples")))


# -------------------------------------------------------- TransE eval

def transe_rank(test: DataFrame, ent_emb: DataFrame,
                rel_emb: DataFrame, k: int = 10) -> DataFrame:
    """Link-prediction ranking evaluation for translation embeddings
    (TransE, Bordes et al. 2013): for each test triple (h, r, t),
    score every candidate tail t' by the L1 distance
    ``|| e(h) + e(r) - e(t') ||_1`` and report the rank of the true
    tail (ascending score; ties broken by entity id ASC so the rank
    is a total order and engine-independent), plus hit@k and the
    reciprocal rank.

    Embeddings are INTEGER vectors (``array<long>``) here: distances
    are exact long sums (``zip_with`` + ``aggregate``, JVM-side), so
    ranks are deterministic -- quantized embeddings (SQ8-style) are
    the production shape at eval time anyway.

    Scale shape: ranking against all entities is inherently
    |test| x |E|; the ENTITY side (the smaller dimension, with its
    vectors) is broadcast and the test side streams -- one map-side
    score per pair, one groupBy per test triple to fold the rank.
    Returns (subj, pred, obj, true_score, rank, hit_at_k,
    reciprocal_rank).
    """
    h = ent_emb.select(F.col("entity").alias("subj"),
                       F.col("vec").alias("hv"))
    r = rel_emb.select(F.col("relation").alias("pred"),
                       F.col("vec").alias("rv"))
    t = ent_emb.select(F.col("entity").alias("obj"),
                       F.col("vec").alias("tv"))
    base = (test.join(h, "subj").join(F.broadcast(r), "pred")
            .join(t, "obj"))
    target = F.zip_with("hv", "rv", lambda a, b: a + b)
    base = base.select("subj", "pred", "obj",
                       target.alias("target"), "tv")

    def l1(vec_col, tgt_col):
        return F.aggregate(
            F.zip_with(vec_col, tgt_col, lambda a, b: F.abs(a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    true_score = l1("tv", "target")
    cand = F.broadcast(ent_emb.select(F.col("entity").alias("cand"),
                                      F.col("vec").alias("cv")))
    scored = (base.select("subj", "pred", "obj", "target",
                          true_score.alias("true_score"))
              .crossJoin(cand)
              .select("subj", "pred", "obj", "true_score", "cand",
                      l1("cv", "target").alias("cand_score")))
    better = ((F.col("cand_score") < F.col("true_score"))
              | ((F.col("cand_score") == F.col("true_score"))
                 & (F.col("cand") < F.col("obj")))).cast("long")
    ranked = (scored.groupBy("subj", "pred", "obj", "true_score")
              .agg((F.sum(better) + 1).cast("long").alias("rank")))
    return ranked.select(
        "subj", "pred", "obj", "true_score", "rank",
        (F.col("rank") <= int(k)).alias("hit_at_k"),
        (F.lit(1.0) / F.col("rank")).alias("reciprocal_rank"))


def modularity(edges: DataFrame, communities: DataFrame,
               src: str = "doc_a", dst: str = "doc_b",
               node_col: str = "node", label_col: str = "label",
               round_to: int = 6) -> DataFrame:
    """Newman modularity of a community assignment, decomposed per
    community: Q = sum_c [ e_c / m - (D_c / 2m)^2 ] where e_c =
    intra-community edge count, D_c = total degree of c's nodes, and
    m = |E| of the undirected simple graph — the standard quality
    score for the :func:`label_propagation` output (Newman &
    Girvan 2004, eq. 5; networkx ``community.modularity`` parity).

    Scale shape: the edge set normalizes once (distinct least/greatest
    pairs); D_c is a degree groupBy joined to the assignment; e_c is
    the edge list joined to the assignment on BOTH endpoints (two
    broadcast-or-shuffle hash joins on node id) — no per-pair
    community matrix ever materializes.  All counters stay exact
    longs; the two divisions happen once per community row.

    Returns (community, n_nodes, deg_sum, e_intra, q_contrib) — the
    graph-level Q is SUM(q_contrib); a community of isolated nodes
    contributes 0."""
    und = _normalize_undirected(edges, src, dst)
    asg = communities.select(F.col(node_col).alias("n"),
                             F.col(label_col).alias("community"))
    deg = _degrees(und)
    m_row = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    d_c = (deg.join(asg, "n")
           .groupBy("community")
           .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("d").cast("long").alias("deg_sum")))
    e_c = (und.join(asg.select(F.col("n").alias("u"),
                               F.col("community").alias("cu")), "u")
           .join(asg.select(F.col("n").alias("v"),
                            F.col("community").alias("cv")), "v")
           .where(F.col("cu") == F.col("cv"))
           .groupBy(F.col("cu").alias("community"))
           .agg(F.count(F.lit(1)).cast("long").alias("e_intra")))
    out = (d_c.join(e_c, "community", "left")
           .crossJoin(F.broadcast(m_row))
           .select("community", "n_nodes", "deg_sum",
                   F.coalesce("e_intra", F.lit(0)).cast("long")
                   .alias("e_intra"), "m"))
    md = F.col("m").cast("double")
    q = (F.col("e_intra").cast("double") / md
         - (F.col("deg_sum").cast("double") / (F.lit(2.0) * md))
         * (F.col("deg_sum").cast("double") / (F.lit(2.0) * md)))
    return out.select("community", "n_nodes", "deg_sum", "e_intra",
                      F.round(q, round_to).alias("q_contrib"))


def conductance(edges: DataFrame, communities: DataFrame,
                src: str = "doc_a", dst: str = "doc_b",
                node_col: str = "node",
                label_col: str = "label") -> DataFrame:
    """Conductance of each community in a node partition:
    phi(S) = cut(S) / min(vol(S), 2m - vol(S)) over the undirected
    simple graph, where cut(S) = boundary edges with exactly one
    endpoint in S and vol(S) = sum of member degrees — the standard
    cluster-quality dual of :func:`modularity` (Kannan/Vempala/Vetta
    2004; the NCP-plot statistic of Leskovec et al. 2009) and the
    score TrustRank-style host-partition audits report per domain.

    Scale shape (same as modularity): the edge set normalizes once;
    volume is a degree groupBy joined to the assignment (node-keyed);
    the boundary count is the edge list joined to the assignment on
    BOTH endpoints (two node-keyed hash joins), each cross edge then
    attributed to BOTH sides via a 2-row explode — no community
    matrix, no per-pair work.  2m is a 1-row broadcast.  Counters are
    exact longs; the ratio is integer permille (1000*cut div min),
    engine-exact.

    Returns (community, n_nodes, volume, cut_edges,
    conductance_permille); a community with min(vol, 2m-vol) = 0
    (isolated nodes, or the whole graph) reports NULL conductance."""
    und = _normalize_undirected(edges, src, dst)
    asg = communities.select(F.col(node_col).alias("n"),
                             F.col(label_col).alias("community"))
    deg = _degrees(und)
    m2 = und.agg((F.count(F.lit(1)) * 2).cast("long").alias("m2"))
    # LEFT join from the assignment: zero-degree nodes never appear
    # in the edge-derived degree table, and an inner join here would
    # silently DROP edge-less communities from the output instead of
    # reporting them with NULL conductance as the contract promises
    vol_c = (asg.join(deg, "n", "left")
             .groupBy("community")
             .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                  F.sum(F.coalesce(F.col("d"), F.lit(0)))
                  .cast("long").alias("volume")))
    lab = (und.join(asg.select(F.col("n").alias("u"),
                               F.col("community").alias("cu")), "u")
           .join(asg.select(F.col("n").alias("v"),
                            F.col("community").alias("cv")), "v"))
    cut_c = (lab.where(F.col("cu") != F.col("cv"))
             .select(F.explode(F.array("cu", "cv")).alias("community"))
             .groupBy("community")
             .agg(F.count(F.lit(1)).cast("long").alias("cut_edges")))
    out = (vol_c.join(cut_c, "community", "left")
           .crossJoin(F.broadcast(m2))
           .select("community", "n_nodes", "volume",
                   F.coalesce("cut_edges", F.lit(0)).cast("long")
                   .alias("cut_edges"), "m2"))
    denom = F.least(F.col("volume"), F.col("m2") - F.col("volume"))
    return out.select(
        "community", "n_nodes", "volume", "cut_edges",
        F.when(denom > 0, F.expr("cut_edges * 1000 div least(volume,"
                                 " m2 - volume)").cast("long"))
        .alias("conductance_permille"))


def wl_colors(edges: DataFrame, rounds: int = 3,
              src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Weisfeiler-Leman color refinement (1-WL): start every node at
    its degree, then for ``rounds`` iterations recolor each node with
    md5(own color | ','-joined SORTED neighbor colors) — the standard
    structural fingerprint (Shervashidze et al., JMLR 2011): nodes
    with different roles (triangle corner vs chain link vs pendant)
    separate after a round or two, and two graphs with different
    color histograms are certainly non-isomorphic.  KG uses: schema-
    pattern discovery, structural dedup of entity neighborhoods,
    candidate pruning before expensive graph matching.

    Scale shape: each round is one join (edge list x colors, keyed on
    the neighbor id) + one groupBy collecting the SORTED neighbor
    color list per node — `sort_array(collect_list(...))` is
    per-group, bounded by max degree, not corpus-sized; the color is
    md5 over deterministic strings so the refinement is reproducible
    across engines and partitionings.  ``rounds`` is a constant
    (1-WL stabilizes in <= diameter rounds; 3 suffices for role
    separation in practice).

    Returns (node, wl_color) with the round-``rounds`` color."""
    und = _normalize_undirected(edges, src, dst)
    sym = (und.select(F.col("u").alias("a"), F.col("v").alias("b"))
           .unionByName(und.select(F.col("v").alias("a"),
                                   F.col("u").alias("b"))))
    colors = (sym.groupBy(F.col("a").alias("node"))
              .agg(F.count(F.lit(1)).cast("long").alias("d"))
              .select("node", F.col("d").cast("string").alias("c")))
    for _ in range(rounds):
        nb = (sym.join(colors.select(F.col("node").alias("b"),
                                     F.col("c").alias("nc")), "b")
              .groupBy(F.col("a").alias("node"))
              .agg(F.concat_ws(
                  ",", F.sort_array(F.collect_list("nc"))).alias("ns")))
        colors = (colors.join(nb, "node")
                  .select("node",
                          F.md5(F.concat_ws("|", "c", "ns")).alias("c"))
                  .localCheckpoint())
    return colors.select("node", F.col("c").alias("wl_color"))


def betweenness(edges: DataFrame, sources: list | None = None,
                src: str = "doc_a", dst: str = "doc_b",
                round_to: int = 6) -> DataFrame:
    """Betweenness centrality by distributed Brandes (Brandes 2001):
    run BFS from every source SIMULTANEOUSLY (the frontier is keyed
    (source, node), so one Spark job round advances |S| searches at
    once), recording per level the shortest-path counts sigma; then
    sweep levels backward accumulating the dependency delta(v) =
    sum_w succ(v) sigma_v/sigma_w * (1 + delta_w); betweenness(v) =
    sum_s delta_s(v) / 2 (undirected pairs counted once, endpoints
    excluded) — networkx ``betweenness_centrality(normalized=False)``
    parity.

    ``sources=None`` uses every node (exact betweenness — O(V*E)
    work, only sane when components are small, e.g. dup-cluster or
    citation neighborhoods); at web scale pass a hash-sampled source
    list: Brandes-subset estimates scale each delta by |V|/|S|
    EXTERNALLY — this function returns the raw subset sum so callers
    control the estimator.

    Scale shape: every forward round is one join + one groupBy on the
    (source, node) frontier; every backward round joins three
    dimension-of-the-frontier frames; the forward search ends in the
    first round that reaches no unseen (source, node) pair, so rounds
    are the largest source eccentricity + 1.  All sigma counts are
    exact longs; deltas are re-rounded to 9 per level so the replay
    is engine-stable.

    Returns (node, betweenness) for every node reached by a source."""
    und = _normalize_undirected(edges, src, dst)
    sym = (und.select(F.col("u").alias("a"), F.col("v").alias("b"))
           .unionByName(und.select(F.col("v").alias("a"),
                                   F.col("u").alias("b")))
           .localCheckpoint())
    nodes = sym.select(F.col("a").alias("node")).distinct()
    if sources is None:
        srcs = nodes.select(F.col("node").alias("s"))
    else:
        srcs = (nodes.where(F.col("node").isin(list(sources)))
                .select(F.col("node").alias("s")))
    levels = {0: srcs.select(
        "s", F.col("s").alias("v"),
        F.lit(1).cast("long").alias("sig")).localCheckpoint()}
    seen = levels[0].select("s", "v").localCheckpoint()
    d = 0
    while True:
        d += 1
        nxt = (levels[d - 1]
               .join(sym, levels[d - 1]["v"] == sym["a"])
               .select("s", F.col("b").alias("v"), "sig")
               .join(seen, ["s", "v"], "left_anti")
               .groupBy("s", "v")
               .agg(F.sum("sig").cast("long").alias("sig"))
               .localCheckpoint())
        if not nxt.take(1):
            break
        levels[d] = nxt
        seen = seen.unionByName(nxt.select("s", "v")).localCheckpoint()
    maxd = d - 1
    # backward dependency sweep
    deltas = {maxd: levels[maxd].withColumn("delta", F.lit(0.0))}
    for lvl in range(maxd, 0, -1):
        cur = deltas[lvl].select(
            "s", F.col("v").alias("w"), F.col("sig").alias("sig_w"),
            F.col("delta").alias("delta_w"))
        pred = levels[lvl - 1].select(
            "s", F.col("v").alias("p"), F.col("sig").alias("sig_p"))
        inc = (cur.join(sym, cur["w"] == sym["a"])
               .select("s", F.col("b").alias("p"), "sig_w", "delta_w")
               .join(pred, ["s", "p"])
               .groupBy("s", F.col("p").alias("v"))
               .agg(F.round(F.sum(
                   F.col("sig_p").cast("double")
                   / F.col("sig_w").cast("double")
                   * (F.lit(1.0) + F.col("delta_w"))), 9)
                   .alias("dinc")))
        deltas[lvl - 1] = (levels[lvl - 1]
                           .join(inc, ["s", "v"], "left")
                           .select("s", "v", "sig",
                                   F.coalesce("dinc", F.lit(0.0))
                                   .alias("delta"))
                           .localCheckpoint())
    acc = None
    for lvl in range(1, maxd + 1):
        part = deltas[lvl].select("v", "delta")
        acc = part if acc is None else acc.unionByName(part)
    if acc is None:  # edgeless / single-node graphs
        return nodes.select("node",
                            F.lit(0.0).alias("betweenness"))
    bc = (acc.groupBy(F.col("v").alias("node"))
          .agg(F.round(F.sum("delta") / F.lit(2.0), round_to)
               .alias("betweenness")))
    return (nodes.join(bc, "node", "left")
            .select("node", F.coalesce("betweenness", F.lit(0.0))
                    .alias("betweenness")))


def ktruss(edges: DataFrame, k: int = 3, src: str = "doc_a",
           dst: str = "doc_b") -> DataFrame:
    """k-truss decomposition (Cohen 2008): iteratively delete every
    edge supported by fewer than k-2 triangles until none remain —
    the EDGE analogue of k-core, and a much stronger cohesion filter
    (a 3-truss keeps only edges that close at least one triangle, so
    chains and stars vanish entirely).  KG use: keep only
    mutually-corroborated sameAs/dup edges before transitive closure,
    where one spurious bridge edge would glue two entities.

    Scale shape: each round recomputes edge support with the same
    degree-oriented wedge join as :func:`triangle_counts` (fan-out
    bounded O(sqrt(|E|)) per node) and filters — one join + one
    groupBy + one anti-ish filter per round; every round that does
    not stop deletes at least one edge, so the loop needs no cap.

    Returns the surviving edges (node_a, node_b, support) with
    node_a < node_b."""
    cur = _normalize_undirected(edges, src, dst)
    need = int(k) - 2
    while True:
        deg = _degrees(cur)
        e = (cur.join(deg.select(F.col("n").alias("u"),
                                 F.col("d").alias("du")), "u")
             .join(deg.select(F.col("n").alias("v"),
                              F.col("d").alias("dv")), "v"))
        ru = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
        rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
        o = e.select(
            F.when(ru < rv, F.col("u")).otherwise(F.col("v"))
            .alias("lo"),
            F.when(ru < rv, F.col("v")).otherwise(F.col("u"))
            .alias("hi"),
            F.when(ru < rv, rv).otherwise(ru).alias("rhi"))
        x, y = o.alias("x"), o.alias("y")
        wedges = (x.join(y, (F.col("x.lo") == F.col("y.lo"))
                         & (F.col("x.rhi") < F.col("y.rhi")))
                  .select(F.col("x.lo").alias("apex"),
                          F.col("x.hi").alias("p"),
                          F.col("y.hi").alias("q")))
        closing = o.select(F.col("lo").alias("p"),
                           F.col("hi").alias("q"))
        tri = wedges.join(closing, ["p", "q"])
        # each triangle supports its three edges once
        sup_edges = tri.select(
            F.explode(F.array(
                F.struct(F.least("apex", "p").alias("u"),
                         F.greatest("apex", "p").alias("v")),
                F.struct(F.least("apex", "q").alias("u"),
                         F.greatest("apex", "q").alias("v")),
                F.struct(F.least("p", "q").alias("u"),
                         F.greatest("p", "q").alias("v"))))
            .alias("e")).select("e.u", "e.v")
        support = sup_edges.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("long").alias("support"))
        nxt = (cur.join(support, ["u", "v"], "left")
               .select("u", "v", F.coalesce("support", F.lit(0))
                       .cast("long").alias("support"))
               .where(F.col("support") >= need)
               .localCheckpoint())
        n_cur = cur.count()
        n_nxt = nxt.count()
        cur = nxt.select("u", "v")
        if n_nxt == n_cur or n_nxt == 0:
            return nxt.select(F.col("u").alias("node_a"),
                              F.col("v").alias("node_b"), "support")


def harmonic_centrality(edges: DataFrame, seeds: DataFrame,
                        max_hops: int = 4, src: str = "doc_a",
                        dst: str = "doc_b") -> DataFrame:
    """Sampled harmonic (in-)centrality: for every node, the sum of
    1/d(s, node) over a SEED SAMPLE s — the Eppstein-Wang/HyperBall
    estimator family's exact-per-seed variant (harmonic centrality is
    the closeness definition that stays finite on disconnected web
    graphs, Boldi & Vigna 2014).  Scale the seed count, not the
    algorithm: the full-corpus all-pairs version is the same program
    with seeds = nodes.

    One labeled :func:`reach`: the frontier is keyed on (seed,
    node) so one job round advances every seed's BFS at once (the
    all-sources-simultaneous discipline of kg_betweenness);
    per-seed shortest distance is implicit in BFS layering + the
    (seed, node) anti-join.  Frontier frames are bounded by
    |seeds| × reachable-per-seed.

    Returns (node, n_seeds_reaching, harmonic) for nodes reached by
    at least one seed in 1..max_hops hops (seeds do not count
    themselves; 1/d is rounded to 6 after the sum)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    seeds = (seeds.select(F.col("node").cast("long").alias("seed"),
                          F.col("node").cast("long").alias("node"),
                          F.lit(0).alias("dist"))
             .distinct())
    visited = reach(e, seeds, max_hops)
    return (visited.where(F.col("dist") > 0)
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_seeds_reaching"),
                 F.round(F.sum(F.lit(1.0) / F.col("dist")), 6)
                 .alias("harmonic")))


def _directed_wedge_pairs(e, key, val, max_fanout):
    """Shared machinery for the directed citation-similarity pair
    scores (co-citation / bibliographic coupling): group the distinct
    edge set by ``key`` (the shared endpoint), cut keys whose fan-out
    exceeds ``max_fanout`` (the hub cut — a page citing thousands of
    targets, or a target cited by half the web, carries no pairwise
    signal and would explode the self-join quadratically), self-join
    on the key, and count each unordered ``val`` pair once.

    Returns (a, b, n_common) with a < b and n_common >= 1."""
    deg = e.groupBy(key).agg(F.count(F.lit(1)).alias("_d"))
    ok = (deg.where((F.col("_d") >= 2) & (F.col("_d") <= max_fanout))
          .select(key))
    w = e.join(ok, key)
    lhs = w.select(F.col(key).alias("_k"), F.col(val).alias("a"))
    rhs = w.select(F.col(key).alias("_k"), F.col(val).alias("b"))
    return (lhs.join(rhs, "_k")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common")))


def cocitation(edges: DataFrame, src: str = "src", dst: str = "dst",
               max_fanout: int = 64, min_common: int = 2) -> DataFrame:
    """Co-citation strength (Small 1973): two targets are similar if
    the same documents cite BOTH — the classic citation-graph
    relatedness score, the descriptive dual of adamic_adar's missing-
    link prediction (reference's citegraph analytics family,
    graphanalyze.py's pagerank/HITS neighbours).  In KG construction:
    co-cited entities are merge/`skos:related` candidates.

    Score = n_common with a Salton cosine normalizer
    n / sqrt(cited_a * cited_b) over the TRUE in-degrees (the hub cut
    applies only to wedge generation, not to the normalizer — a pair
    co-cited by 3 careful pages out of each's 5 citers is stronger
    than one co-cited by 3 out of 5000).

    Scale shape (10^12 edges): distinct edge set, one groupBy for the
    citing-side fan-out, hub cut at ``max_fanout`` (bounds the self-
    join at fanout^2 per citing doc), equi-join on the citing doc,
    one pair groupBy, broadcast-size nothing — every shuffle keyed,
    nothing quadratic in nodes.  ``min_common >= 2`` drops the long
    tail of single-wedge pairs before the in-degree join.

    Returns (node_a, node_b, n_common, salton), node_a < node_b."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
         .where(F.col("s") != F.col("t")).distinct())
    pairs = (_directed_wedge_pairs(e, "s", "t", max_fanout)
             .where(F.col("n_common") >= min_common))
    indeg = e.groupBy("t").agg(F.count(F.lit(1)).alias("cited"))
    da = indeg.select(F.col("t").alias("a"), F.col("cited").alias("_ca"))
    db = indeg.select(F.col("t").alias("b"), F.col("cited").alias("_cb"))
    return (pairs.join(da, "a").join(db, "b")
            .select(F.col("a").alias("node_a"),
                    F.col("b").alias("node_b"), "n_common",
                    F.round(F.col("n_common") /
                            F.sqrt(F.col("_ca").cast("double") *
                                   F.col("_cb")), 6).alias("salton")))


def biblio_coupling(edges: DataFrame, src: str = "src",
                    dst: str = "dst", max_fanout: int = 64,
                    min_common: int = 2) -> DataFrame:
    """Bibliographic coupling (Kessler 1963): two documents are
    similar if they cite the same references — the forward-looking
    dual of :func:`cocitation` (coupling is fixed at publication
    time; co-citation accrues as others cite).  Same wedge machinery
    with the shared endpoint on the CITED side: the hub cut drops
    references cited by more than ``max_fanout`` documents (a
    ubiquitous reference — a home page, a spec everyone cites — has
    no discriminative power, exactly the idf rationale).

    Normalizer: Salton cosine over the TRUE out-degrees (number of
    references each document makes).

    Returns (node_a, node_b, n_common, salton), node_a < node_b."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
         .where(F.col("s") != F.col("t")).distinct())
    pairs = (_directed_wedge_pairs(e, "t", "s", max_fanout)
             .where(F.col("n_common") >= min_common))
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("refs"))
    da = outdeg.select(F.col("s").alias("a"), F.col("refs").alias("_ra"))
    db = outdeg.select(F.col("s").alias("b"), F.col("refs").alias("_rb"))
    return (pairs.join(da, "a").join(db, "b")
            .select(F.col("a").alias("node_a"),
                    F.col("b").alias("node_b"), "n_common",
                    F.round(F.col("n_common") /
                            F.sqrt(F.col("_ra").cast("double") *
                                   F.col("_rb")), 6).alias("salton")))


def spam_mass(edges: DataFrame, trusted: DataFrame,
              pr_iterations: int = 5, ppr_iterations: int = 3,
              damping: float = 0.5, alpha: float = 0.5,
              src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Relative spam mass (Gyongyi, Berkhin, Garcia-Molina, Pedersen,
    "Link spam detection based on mass estimation", VLDB 2006): the
    fraction of a node's PageRank that does NOT flow from a trusted
    seed set — M(p) = (PR(p) - T(p)) / PR(p), where T is the
    TrustRank vector (seed-restarted walk).  The standard web-scale
    link-farm detector: nodes whose rank is mostly self-made sit near
    1.0; nodes reachable from trust sit near 0 (or below, when trust
    exceeds their global rank).

    Composition of the two existing loops: global :func:`pagerank`
    (damping here defaults to a dyadic 0.5 so planted-graph scores
    are exact IEEE doubles) and :func:`personalized_pagerank` from
    ``trusted`` (node column).  The trust vector is normalized by
    |seeds| — PPR is linear in seed mass, so dividing the OUTPUT by
    the seed count equals running with per-seed mass alpha/|seeds|
    (one exact integer division instead of a float re-normalizing
    sum whose term order engines could disagree on).

    Scale shape: both inner loops are the established per-round
    join+groupBy shapes; the combine step is one full-outer join of
    two node-keyed vectors plus a 1-row broadcast seed count.

    Returns (node, pagerank_r, trust_r, rel_spam_mass), mass rounded
    to 6, for every ranked node."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    pr = pagerank(e, iterations=pr_iterations, damping=damping,
                  round_to=9)
    tr = personalized_pagerank(edges, trusted,
                               iterations=ppr_iterations, alpha=alpha,
                               src=src, dst=dst)
    nseeds = trusted.select(F.col("node").cast("long")).distinct().agg(
        F.count(F.lit(1)).alias("_ns"))
    tr = (tr.crossJoin(F.broadcast(nseeds))
          .select(F.col("node").cast("long").alias("vertex"),
                  (F.col("score") / F.col("_ns")).alias("_t")))
    prv = pr.select(F.col("vertex").cast("long").alias("vertex"),
                    F.col("pagerank_r").alias("_pr"))
    t = F.coalesce(F.col("_t"), F.lit(0.0))
    return (prv.join(tr, "vertex", "left")
            .select(F.col("vertex").alias("node"),
                    F.round("_pr", 6).alias("pagerank_r"),
                    F.round(t, 6).alias("trust_r"),
                    F.round((F.col("_pr") - t) / F.col("_pr"), 6)
                    .alias("rel_spam_mass")))


def simrank(edges: DataFrame, iterations: int = 2, c: float = 0.5,
            src: str = "doc_a", dst: str = "doc_b",
            max_indegree: int = 64, min_sim: float = 0.0) -> DataFrame:
    """SimRank (Jeh & Widom, KDD 2002): two nodes are similar if
    their IN-neighbors are similar — s(a,b) = C/(|I(a)||I(b)|) *
    sum over (u in I(a), v in I(b)) of s(u,v), s(a,a) = 1.  The
    structural-equivalence dual of co-citation (co-citation IS
    SimRank's first iteration up to the normalizer); in KG
    construction it scores sameAs candidates that share *similar*,
    not merely identical, citers.

    Distributed shape: the similarity table is kept SPARSE and
    SYMMETRIC (diagonal + every discovered pair in both orders); one
    round = two edge joins (u->a, v->b) against it, one (a, b)
    groupBy-sum, and a broadcast-size in-degree normalizer join.
    SimRank is inherently O(pairs x d^2) — the standard production
    controls are all here: nodes with in-degree > ``max_indegree``
    never generate pairs (hub cut, mirrored in any oracle),
    ``min_sim`` prunes below-threshold pairs each round (sparsity
    threshold), and the pair table is localCheckpointed per round.

    Engine portability: with C dyadic and planted in-degrees that are
    powers of two, every score is a sum of exactly-representable
    dyadic rationals — addition is exact, so summation ORDER cannot
    make engines disagree.

    Returns (node_a, node_b, sim) for non-diagonal pairs with
    sim > ``min_sim``, node_a < node_b, rounded to 6."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    ind = e.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    e2 = (e.join(ind.where(F.col("d") <= max_indegree), "v")
          .select("u", "v").localCheckpoint(eager=True))
    nodes = (e.select(F.col("u").alias("n"))
             .unionByName(e.select(F.col("v").alias("n")))
             .distinct().localCheckpoint(eager=True))
    diag = nodes.select(F.col("n").alias("x"), F.col("n").alias("y"),
                        F.lit(1.0).alias("s"))
    sim = diag
    ea = e2.select(F.col("u").alias("x"), F.col("v").alias("a"))
    eb = e2.select(F.col("u").alias("y"), F.col("v").alias("b"))
    for _ in range(iterations):
        t = (sim.join(ea, "x").join(eb, "y")
             .where(F.col("a") != F.col("b"))
             .groupBy("a", "b").agg(F.sum("s").alias("t")))
        off = (t.join(ind.select(F.col("v").alias("a"),
                                 F.col("d").alias("_da")), "a")
               .join(ind.select(F.col("v").alias("b"),
                                F.col("d").alias("_db")), "b")
               .select(F.col("a").alias("x"), F.col("b").alias("y"),
                       (F.lit(c) / (F.col("_da") * F.col("_db"))
                        * F.col("t")).alias("s")))
        if min_sim > 0:
            off = off.where(F.col("s") > min_sim)
        sim = diag.unionByName(off).localCheckpoint(eager=True)
    return (sim.where(F.col("x") < F.col("y"))
            .where(F.col("s") > min_sim)
            .select(F.col("x").alias("node_a"),
                    F.col("y").alias("node_b"),
                    F.round("s", 6).alias("sim")))


def clustering_coefficient(edges: DataFrame,
                           src: str = "node_a",
                           dst: str = "node_b") -> DataFrame:
    """Per-node local clustering coefficient via degree-ordered
    triangle counting (Latapy 2008 "compact-forward"; the shape
    behind Cohen's MapReduce triangle enumeration, 2009).  C(v) =
    2*T(v) / (deg(v)*(deg(v)-1)) measures how clique-like a node's
    neighborhood is — in web/KG terms it separates organic community
    hubs (high C) from spam link farms and navigational mega-hubs
    (near-zero C), complementing kg_spam_mass / kg_ktruss.

    Distributed shape, and why it survives 10^12 edges: the graph is
    first ORIENTED from the (degree, id)-smaller endpoint to the
    larger, so every triangle is enumerated exactly once from its
    lowest-degree corner and per-center wedge fan-out is bounded by
    out-degree, which orientation caps at O(sqrt(m)) — the hub that
    would generate deg^2 wedges undirected generates none, because
    hubs only RECEIVE oriented edges.  One distinct + one degree
    groupBy, a self-join on the wedge center, and a closing join on
    the (v, w) edge key — every shuffle keys on node/edge ids, never
    payloads.

    All-integer output (coeff as exact permille via integer div), so
    any engine replaying the same graph agrees hash-exactly.

    Returns (node, degree, triangles, coeff_permille), deg >= 1
    nodes only; deg-1 nodes get coeff 0.
    """
    e = (edges.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .where(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=True))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    # orient by (degree, id): strictly increasing, so antisymmetric
    # and acyclic even under degree ties
    da = deg.select(F.col("node").alias("a"),
                    F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"),
                    F.col("degree").alias("_db"))
    keyed = (e.join(da, "a").join(db, "b"))
    fwd = F.struct("_da", "a") < F.struct("_db", "b")
    o = (keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(fwd, F.col("_db")).otherwise(F.col("_da")).alias("_dt"))
        .localCheckpoint(eager=True))
    # wedges at center s: ordered out-neighbor pairs, then close
    # against the oriented edge (v, w) — (deg,id) order on the pair
    # matches the orientation, so the closing edge is always forward
    x = o.select(F.col("s"), F.col("t").alias("v"),
                 F.col("_dt").alias("_dv"))
    y = o.select(F.col("s"), F.col("t").alias("w"),
                 F.col("_dt").alias("_dw"))
    wedges = (x.join(y, "s")
              .where(F.struct("_dv", "v") < F.struct("_dw", "w"))
              .select("s", "v", "w"))
    closing = o.select(F.col("s").alias("v"), F.col("t").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select("s", "v", "w")
    per_node = (tri.select(F.col("s").alias("node"))
                .unionByName(tri.select(F.col("v").alias("node")))
                .unionByName(tri.select(F.col("w").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))
    return (deg.join(per_node, "node", "left")
            .select("node", "degree",
                    F.coalesce("triangles", F.lit(0)).cast("long")
                    .alias("triangles"),
                    F.when(F.col("degree") > 1,
                           F.expr("2000 * coalesce(triangles, 0) div "
                                  "(degree * (degree - 1))"))
                    .otherwise(F.lit(0)).cast("long")
                    .alias("coeff_permille")))


def h_index(items: DataFrame, group_col: str = "group",
            score_col: str = "score") -> DataFrame:
    """Hirsch h-index per group: the largest h such that the group
    has >= h items with score >= h (citation analysis over the KG's
    dcterms:references graph; the reference's graphanalyze module
    computes the adjacent in-degree/AP family, this is the
    productivity-robust summary librarians actually quote).

    Shape: h = max over items of min(rank_by_score_desc, score) — a
    single window rank inside each group plus one aggregate, so one
    shuffle on the group key and no iteration.  All-integer (ranks
    and scores are longs), hence engine-portable hash-exact.

    Returns (group, h_index, n_items, max_score).
    """
    from pyspark.sql import Window
    g, s = F.col(group_col), F.col(score_col).cast("long")
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.monotonically_increasing_id())
    ranked = items.select(
        g.alias("group"), s.alias("score"),
        F.row_number().over(w).cast("long").alias("rank"))
    return (ranked.groupBy("group")
            .agg(F.max(F.least("rank", "score")).cast("long")
                 .alias("h_index"),
                 F.count(F.lit(1)).cast("long").alias("n_items"),
                 F.max("score").cast("long").alias("max_score")))


def reciprocity(edges: DataFrame, src: str = "src",
                dst: str = "dst") -> DataFrame:
    """Per-node edge reciprocity over a directed graph: of a node's
    distinct out-edges (self-loops excluded), how many are
    reciprocated by a reverse edge — the classic directed-web-graph
    statistic separating mutual-link communities from one-way
    broadcast hubs (link farms reciprocate internally, navigational
    hubs don't), complementing kg_spam_mass and kg_clustering_coeff.

    Shape: dedupe to distinct directed pairs, one self-join keyed on
    the reversed pair (both sides partition on the same 2-tuple key,
    so AQE plans a co-partitioned sort-merge join), one aggregate.
    Integer permille output — hash-exact across engines.

    Returns (node, n_out, n_reciprocated, reciprocity_permille).
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"),
                   F.lit(1).alias("_r"))
    return (e.join(rev, ["a", "b"], "left")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_out"),
                 F.sum(F.coalesce("_r", F.lit(0))).cast("long")
                 .alias("n_reciprocated"))
            .select("node", "n_out", "n_reciprocated",
                    F.expr("1000 * n_reciprocated div n_out")
                    .cast("long").alias("reciprocity_permille")))


def katz_centrality(edges: DataFrame, rounds: int = 3,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Katz centrality with an ALL-INTEGER attenuation kernel:
    score(v) = 1e6 + sum over walk lengths k of (attenuated walk
    mass reaching v), where each hop halves the mass with integer
    division — i.e. Katz's beta = 1/2 realized as a shift, so every
    engine replaying the same rounds agrees bit-for-bit (the float
    power-iteration form accumulates addition-order noise; pagerank
    here pays for that with round-6 tolerances, Katz doesn't have
    to).  Unlike degree (k=1 only) or pagerank (normalized flow),
    Katz counts ALL bounded walks — the "influence through
    intermediaries" centrality (Katz 1953).

    Distributed shape: each round is one join of the current mass
    vector against the edge list keyed on the source endpoint plus
    one groupBy on the destination — the pagerank loop discipline
    (mass vector localCheckpointed per round, |V|-sized, never
    collected).  ``rounds`` bounds the walk length; with beta = 1/2
    the tail mass vanishes geometrically, so small constants are
    faithful.

    Returns (node, katz_micro, n_rounds).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct().localCheckpoint(eager=True))
    mass = nodes.select("node", F.lit(1000000).cast("long")
                        .alias("m"))
    total = nodes.select("node", F.lit(1000000).cast("long")
                         .alias("katz_micro"))
    for _ in range(int(rounds)):
        nxt = (e.join(mass.withColumnRenamed("node", "u"), "u")
               .select(F.col("v").alias("node"),
                       F.expr("m div 2").alias("c"))
               .groupBy("node")
               .agg(F.sum("c").cast("long").alias("m")))
        mass = nxt.localCheckpoint(eager=True)
        total = (total.join(mass, "node", "left")
                 .select("node",
                         (F.col("katz_micro")
                          + F.coalesce("m", F.lit(0))).cast("long")
                         .alias("katz_micro"))
                 .localCheckpoint(eager=True))
    return total.select("node", "katz_micro",
                        F.lit(int(rounds)).cast("long")
                        .alias("n_rounds"))


def boruvka_msf(edges: DataFrame, src: str = "src", dst: str = "dst",
                weight_col: str = "weight") -> DataFrame:
    """Borůvka minimum spanning forest — THE distributed MST
    algorithm (every component picks its cheapest outgoing edge;
    components at least halve per round, so log n rounds): the
    backbone-extraction step for weighted similarity/link graphs
    (single-linkage clustering IS the MSF, cf. dedup cluster trees).
    Weights must be distinct for a unique forest — callers append a
    tiebreak (weight*K + edge_id) as planted here.

    Shape per round: each undirected edge is viewed from both sides
    (one union), endpoint labels arrive by two vertex-keyed joins,
    the per-component argmin is one groupBy(min(struct)), and the
    selected edges fold into the forest; labels then recompute via
    the shared hash-min CC kernel over the forest-so-far (kernel
    reuse over the textbook star-contraction — declared: contraction
    touches only selected-edge stars and is the constant-factor
    optimization at 10^12 edges, the label algebra is identical).
    Terminates in the first round with no cross-component edge;
    every earlier round merges at least two components, so the loop
    needs no cap.

    Returns the forest edges (src, dst, weight)."""
    from .canonicalize import connected_components
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"),
                      F.col(weight_col).cast("long").alias("w"))
         .where(F.col("u") != F.col("v"))
         .localCheckpoint(eager=True))
    labels = (e.select(F.col("u").alias("vertex"))
              .unionByName(e.select(F.col("v").alias("vertex")))
              .distinct()
              .withColumn("component", F.col("vertex"))
              .localCheckpoint(eager=True))
    forest = None
    while True:
        both = (e.select("u", "v", "w")
                .unionByName(e.select(F.col("v").alias("u"),
                                      F.col("u").alias("v"), "w")))
        lu = labels.select(F.col("vertex").alias("u"),
                           F.col("component").alias("cu"))
        lv = labels.select(F.col("vertex").alias("v"),
                           F.col("component").alias("cv"))
        cross = (both.join(lu, "u").join(lv, "v")
                 .where(F.col("cu") != F.col("cv")))
        picked = (cross.groupBy("cu")
                  .agg(F.min(F.struct("w", "u", "v")).alias("m"))
                  .select(F.col("m.u").alias("u"),
                          F.col("m.v").alias("v"),
                          F.col("m.w").alias("w"))
                  .select(F.least("u", "v").alias("u"),
                          F.greatest("u", "v").alias("v"), "w")
                  .distinct())
        if picked.isEmpty():
            break
        forest = (picked if forest is None
                  else forest.unionByName(picked).distinct())
        forest = forest.localCheckpoint(eager=True)
        labels = connected_components(
            forest.select(F.col("u").alias("src"),
                          F.col("v").alias("dst")))
        # isolated vertices keep their own label
        labels = (labels.unionByName(
            e.select(F.col("u").alias("vertex"))
            .unionByName(e.select(F.col("v").alias("vertex")))
            .distinct()
            .withColumn("component", F.col("vertex")))
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True))
    if forest is None:
        return e.select(F.col("u").alias("src"),
                        F.col("v").alias("dst"),
                        F.col("w").alias("weight")).limit(0)
    return forest.select(F.col("u").alias("src"),
                         F.col("v").alias("dst"),
                         F.col("w").alias("weight"))


def greedy_coloring(edges: DataFrame, rounds: int = 8,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Distributed greedy graph coloring by priority rounds (the
    Jones-Plassmann / Luby independent-set schedule): in round r,
    every still-uncolored vertex whose priority beats ALL its
    uncolored neighbors takes color r — selected vertices form an
    independent set, so the result is always a PROPER coloring.  The
    scheduling use case: conflict-free batches for parallel updates
    over a conflict graph (same-host crawl slots, entity-merge
    batches that must not touch the same entity).  Declared variant:
    color = selection round (Luby), not JP's minimal-available
    color — palette is wider, properness identical, arithmetic
    integer.

    Priorities are the portable md5 prefix with the vertex id as
    tiebreak (total order, engine-replayable).  Per round: one
    neighbor-keyed join + one vertex groupBy-max over UNCOLORED
    neighbors — only the |V|-sized state moves, the pagerank loop
    inventory.  A vertex whose chain of decreasing priorities is
    longer than ``rounds`` stays NULL — surfaced, not hidden (the
    caller sizes ``rounds`` to the planted diameter or re-runs).

    Vertex ids must be integral.  Returns (node, priority, color)."""
    und = _normalize_undirected(edges, src, dst)
    nparts = max(1, min(und.rdd.getNumPartitions(),
                        und.sparkSession.sparkContext
                        .defaultParallelism))
    both = (und.select(F.col("u").alias("a"), F.col("v").alias("b"))
            .unionByName(und.select(F.col("v").alias("a"),
                                    F.col("u").alias("b")))
            .repartition(nparts, "b")
            .localCheckpoint(eager=True))
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("color:"),
                       F.col("node").cast("string"))),
        1, 8), 16, 10).cast("long")
    state = (both.select(F.col("a").alias("node")).distinct()
             .withColumn("priority",
                         h * 100000 + F.col("node") % 100000)
             .withColumn("color", F.lit(None).cast("long"))
             .repartition(nparts, "node")
             .localCheckpoint(eager=True))
    for r in range(1, rounds + 1):
        if state.where(F.col("color").isNull()).isEmpty():
            break
        nb = (both
              .join(state.select(F.col("node").alias("b"),
                                 F.col("priority").alias("pb"),
                                 F.col("color").alias("cb")), "b")
              .where(F.col("cb").isNull())
              .groupBy(F.col("a").alias("node"))
              .agg(F.max("pb").alias("nbmax")))
        state = (state.join(nb, "node", "left")
                 .select("node", "priority",
                         F.coalesce(
                             "color",
                             F.when(F.col("nbmax").isNull()
                                    | (F.col("priority")
                                       > F.col("nbmax")),
                                    F.lit(r).cast("long")))
                         .alias("color"))
                 .localCheckpoint(eager=True))
    return state.select(F.col("node"), "priority", "color")


def salsa_scores(edges: DataFrame, src: str = "src",
                 dst: str = "dst") -> DataFrame:
    """SALSA link analysis (Lempel & Moran, "SALSA and the TKC
    effect", WWW 2000 / TOIT 2001) — the stochastic sibling of HITS
    whose stationary scores have a CLOSED FORM: within a connected
    component of the hub-authority bipartite graph the authority
    chain's stationary probability is degree-proportional,

        a_i = (|C_i ∩ A| / |A|) * din_i / din(C_i)

    (Lempel-Moran §3.2: component mass splits by component size,
    in-component mass by in-degree; hubs symmetrically with
    out-degree).  This is why SALSA resists the Tightly-Knit
    Community effect that inflates HITS — and why it scales: NO
    power iteration at all, just a connected-components pass over
    the bipartite graph plus degree aggregates.

    Exact-integer restatement: score_ppm =
    ``n_comp_side * deg * 10^6 div (n_side * deg_comp_side)`` with
    DECIMAL(38) products (each factor ≤ 10^9 keeps the product
    inside 38 digits).

    Scale shape: the hub/authority sides get disjoint vertex ids
    (2u vs 2v+1) and one hash-min CC pass labels the bipartite
    graph; then two keyed aggregates (per-side totals — a 2-row
    broadcast — and per-(side, component) rollups) and one
    node-keyed join.  Returns (side, node, degree, component,
    n_comp, deg_comp, score_ppm)."""
    from .canonicalize import connected_components
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .distinct())
    bip = e.select((F.col("u") * 2).alias("src"),
                   (F.col("v") * 2 + 1).alias("dst"))
    comp = connected_components(bip)
    hub = (e.groupBy(F.col("u").alias("node"))
           .agg(F.count(F.lit(1)).cast("long").alias("degree"))
           .select(F.lit("hub").alias("side"), "node", "degree",
                   (F.col("node") * 2).alias("bip_id")))
    auth = (e.groupBy(F.col("v").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .select(F.lit("authority").alias("side"), "node",
                    "degree", (F.col("node") * 2 + 1).alias("bip_id")))
    both = (hub.unionByName(auth)
            .join(comp.select(F.col("vertex").alias("bip_id"),
                              "component"), "bip_id")
            .drop("bip_id"))
    side_tot = (both.groupBy("side")
                .agg(F.count(F.lit(1)).cast("long").alias("n_side")))
    comp_tot = (both.groupBy("side", "component")
                .agg(F.count(F.lit(1)).cast("long").alias("n_comp"),
                     F.sum("degree").cast("long").alias("deg_comp")))
    return (both.join(comp_tot, ["side", "component"])
            .join(F.broadcast(side_tot), "side")
            .select("side", "node", "degree", "component",
                    "n_comp", "deg_comp",
                    F.expr("cast(n_comp as decimal(38,0)) * degree"
                           " * 1000000 div"
                           " (cast(n_side as decimal(38,0))"
                           " * deg_comp)")
                    .cast("long").alias("score_ppm")))
