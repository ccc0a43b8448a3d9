"""Graph-algorithm ``kg_*`` queries over ``operators.graphs``."""

from pyspark.sql import Window, functions as F

from ferenda_spark import vocab
from ferenda_spark.operators.dedup import minhash_band_pairs
from ferenda_spark.operators.graphs import (OWL, OWL_INVERSEOF, RDFS_DOMAIN,
                                            RDFS_RANGE, RDFS_SUBCLASSOF,
                                            RDFS_SUBPROPERTYOF, RDF_FIRST,
                                            RDF_NIL, RDF_REST, adamic_adar,
                                            annotations, average_precision,
                                            betweenness, bfs_distances,
                                            biblio_coupling, boruvka_msf,
                                            bowtie_classes, citation_counts,
                                            citation_hits, citation_pagerank,
                                            clustering_coefficient,
                                            clustering_coefficients,
                                            cocitation, conductance,
                                            degree_assortativity,
                                            degree_distribution, deps_edges,
                                            greedy_coloring, h_index,
                                            harmonic_centrality, hyperball,
                                            ispartof_closure,
                                            jaccard_neighbors, katz_centrality,
                                            kcore, ktruss, label_propagation,
                                            modularity, ndcg,
                                            neighbor_feature_agg,
                                            owl_entailment,
                                            personalized_pagerank,
                                            rdf_list_flatten, rdfs_entailment,
                                            reciprocity, salsa_scores,
                                            scc_labels, schema_graph, simrank,
                                            spam_mass, transe_rank,
                                            transitive_reduction,
                                            triangle_counts, wl_colors)
from ferenda_spark.operators.triples import mention_triples
from ferenda_spark.registry import query
from ferenda_spark.registry.common import (_ALL_TRIPLES_WITH, _F_CTE,
                                           _MENTION_TRIPLES, _MINHASH_CTE,
                                           _docs, _read, _triples, block_edges,
                                           block_roots)


def _citation_edges(spark, sf_dir):
    """Directed citation edges (citing doc url -> cited target) from
    the extracted reference triples — shared input of the citation-
    similarity pair (co-citation / bibliographic coupling)."""
    return mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("src"), F.col("obj").alias("dst"))


def _scc_edges(spark, sf_dir):
    """Closed-form directed graph in complete groups of 5 doc_ids:
    a 3-cycle (b, b+1, b+2) with a 2-chain tail (b+2 -> b+3 -> b+4)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    lim = (d.count() // 5) * 5
    d = d.where(F.col("doc_id") < lim)
    did = F.col("doc_id")
    r = did % 5
    src = d.select(did.alias("src"),
                   F.when(r == 2, did - 2).otherwise(did + 1)
                   .alias("dst"))
    tail = (d.where(r == 2)
            .select(did.alias("src"), (did + 1).alias("dst")))
    return src.where(r <= 2).unionByName(tail).unionByName(
        d.where(r == 3).select(did.alias("src"), (did + 1).alias("dst")))


# planted per-block graphs shared by several queries (block_edges pairs)
_TRIANGLE_CHAIN_EDGE = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (6, 7)]
_TWO_TRIANGLES = [(0, 1), (1, 2), (0, 2), (2, 5), (5, 6), (6, 7), (5, 7)]
_CYCLE_CHORD = [(0, 1), (1, 2), (2, 0), (0, 2)]


def _pagerank_sql(iterations: int = 10, damping: float = 0.85) -> str:
    """Closed-form PageRank oracle: the power iteration unrolled into
    one CTE per round, with the dangling-mass term mirrored exactly
    (new = (1-d)/n + d*(sum_in + dangling_mass/n)).  Fixed iteration
    count -> deterministic, so DuckDB and Spark agree to 1e-6."""
    # every CTE below is MATERIALIZED: DuckDB inlines plain CTEs, and
    # each round references the previous one twice (contribs + dangling
    # mass), so un-materialized the scan tree doubles per iteration
    sql = ("WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """,
edges AS MATERIALIZED (
  SELECT DISTINCT context AS src, obj AS dst FROM mention_triples),
verts AS MATERIALIZED (
  SELECT src AS vertex FROM edges UNION SELECT dst FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM verts),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
        FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT vertex, 1.0 / nn.c AS rank FROM verts, nn)""")
    for k in range(1, iterations + 1):
        prev = "r%d" % (k - 1)
        sql += """,
r%d AS MATERIALIZED (
  SELECT v.vertex,
         %r / nn.c + %r * (COALESCE(s.s, 0) + dm.m / nn.c) AS rank
  FROM verts v
  CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0) AS m
              FROM %s r LEFT JOIN deg d2 ON r.vertex = d2.src
              WHERE d2.src IS NULL) dm
  LEFT JOIN (SELECT e.dst AS vertex, SUM(r.rank / d3.deg) AS s
             FROM edges e JOIN %s r ON e.src = r.vertex
             JOIN deg d3 ON d3.src = e.src
             GROUP BY e.dst) s ON s.vertex = v.vertex)""" % (
            k, 1.0 - damping, damping, prev, prev)
    sql += ("\nSELECT vertex, round(rank, 6) AS pagerank_r FROM r%d"
            % iterations)
    return sql


def _spam_mass_sql(pr_iters: int = 5, ppr_iters: int = 3) -> str:
    """Closed-form spam-mass oracle: the PageRank power iteration
    (damping 0.5) unrolled over the planted block graph exactly as
    _pagerank_sql does, the kg_ppr-style TrustRank recursion from the
    b%40==0 seeds, then M = (PR - T/|seeds|)/PR.  Everything dyadic /
    2-term-sum on this graph, so both engines are bit-exact before
    the final rounding."""
    sql = """WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
e0 AS MATERIALIZED (
  SELECT b AS u, b + 1 AS v FROM blk
  UNION ALL SELECT b + 1, b + 2 FROM blk
  UNION ALL SELECT b + 2, b FROM blk
  UNION ALL SELECT b, b + 2 FROM blk),
verts AS MATERIALIZED (SELECT u AS vertex FROM e0
                       UNION SELECT v FROM e0),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM verts),
deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS DOUBLE) AS d
                     FROM e0 GROUP BY u),
pdeg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
r0 AS MATERIALIZED (SELECT vertex, 1.0 / nn.c AS rank FROM verts, nn)"""
    for k in range(1, pr_iters + 1):
        prev = "r%d" % (k - 1)
        sql += """,
r%d AS MATERIALIZED (
  SELECT v.vertex,
         0.5 / nn.c + 0.5 * (COALESCE(s.s, 0) + dm.m / nn.c) AS rank
  FROM verts v
  CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0) AS m
              FROM %s r LEFT JOIN deg d2 ON r.vertex = d2.u
              WHERE d2.u IS NULL) dm
  LEFT JOIN (SELECT e.v AS vertex, SUM(r.rank / d3.d) AS s
             FROM e0 e JOIN %s r ON e.u = r.vertex
             JOIN deg d3 ON d3.u = e.u
             GROUP BY e.v) s ON s.vertex = v.vertex)""" % (k, prev,
                                                           prev)
    sql += """,
seed AS MATERIALIZED (SELECT b AS node, 0.5 AS sm FROM blk
                      WHERE b % 40 = 0),
ew AS MATERIALIZED (SELECT e0.u, e0.v, pdeg.d FROM e0
                    JOIN pdeg ON e0.u = pdeg.u),
t0 AS MATERIALIZED (SELECT node, sm AS score FROM seed)"""
    for k in range(1, ppr_iters + 1):
        prev = "t%d" % (k - 1)
        sql += """,
s%d AS MATERIALIZED (
  SELECT ew.v AS node, SUM(p.score * 0.5 / ew.d) AS sc
  FROM %s p JOIN ew ON p.node = ew.u GROUP BY ew.v),
t%d AS MATERIALIZED (
  SELECT COALESCE(s%d.node, seed.node) AS node,
         COALESCE(s%d.sc, 0) + COALESCE(seed.sm, 0) AS score
  FROM s%d FULL OUTER JOIN seed ON s%d.node = seed.node)""" % (
            k, prev, k, k, k, k, k)
    sql += """,
ns AS (SELECT COUNT(DISTINCT node) AS n FROM seed)
SELECT p.vertex AS node,
       round(round(p.rank, 9), 6) AS pagerank_r,
       round(COALESCE(t.score / ns.n, 0), 6) AS trust_r,
       round((round(p.rank, 9) - COALESCE(t.score / ns.n, 0))
             / round(p.rank, 9), 6) AS rel_spam_mass
FROM r%d p CROSS JOIN ns
LEFT JOIN t%d t ON p.vertex = t.node
ORDER BY node""" % (pr_iters, ppr_iters)
    return sql


def _simrank_sql(iterations: int = 2) -> str:
    """Closed-form SimRank oracle over the planted power-of-two
    in-degree block graph: the recursion unrolled one CTE pair per
    round, diagonal re-seeded at 1.0 each round, hub cut mirrored."""
    sql = """WITH blk AS (SELECT doc_id AS b FROM documents
                         WHERE doc_id % 20 = 0),
e AS MATERIALIZED (
  SELECT b AS u, b + 2 AS v FROM blk
  UNION ALL SELECT b + 1, b + 2 FROM blk
  UNION ALL SELECT b, b + 3 FROM blk
  UNION ALL SELECT b + 1, b + 3 FROM blk
  UNION ALL SELECT b + 2, b + 4 FROM blk
  UNION ALL SELECT b + 3, b + 4 FROM blk
  UNION ALL SELECT b + 3, b + 1 FROM blk
  UNION ALL SELECT b + 4, b + 1 FROM blk),
ind AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM e GROUP BY v),
e2 AS MATERIALIZED (SELECT e.u, e.v FROM e
                    JOIN ind ON e.v = ind.v WHERE ind.d <= 64),
nodes AS MATERIALIZED (SELECT u AS n FROM e UNION SELECT v FROM e),
s0 AS MATERIALIZED (SELECT n AS x, n AS y, 1.0 AS s FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += """,
t%d AS MATERIALIZED (
  SELECT ea.v AS a, eb.v AS b, SUM(p.s) AS t
  FROM s%d p JOIN e2 ea ON p.x = ea.u JOIN e2 eb ON p.y = eb.u
  WHERE ea.v <> eb.v GROUP BY 1, 2),
s%d AS MATERIALIZED (
  SELECT a AS x, b AS y, 0.5 / (ia.d * ib.d) * t AS s
  FROM t%d JOIN ind ia ON t%d.a = ia.v JOIN ind ib ON t%d.b = ib.v
  UNION ALL SELECT n, n, 1.0 FROM nodes)""" % (k, k - 1, k, k, k, k)
    sql += """
SELECT x AS node_a, y AS node_b, round(s, 6) AS sim
FROM s%d WHERE x < y AND s > 0 ORDER BY node_a, node_b""" % iterations
    return sql


def _hits_sql(iterations: int = 10) -> str:
    """Closed-form HITS oracle: networkx hits_alg unrolled one round
    per CTE set — a_k = A^T h_{k-1}; h_k = A a_k from the
    *un-normalized* a_k; then each normalized by its max (multiplying
    by 1/max, the exact float op networkx and the Spark loop use);
    final sum normalization.  MATERIALIZED for the same
    scan-tree-doubling reason as the pagerank oracle."""
    sql = ("WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """,
edges AS MATERIALIZED (
  SELECT DISTINCT context AS src, obj AS dst FROM mention_triples),
verts AS MATERIALIZED (
  SELECT src AS vertex FROM edges UNION SELECT dst FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM verts),
hn0 AS MATERIALIZED (SELECT vertex, 1.0 / nn.c AS h FROM verts, nn)""")
    for k in range(1, iterations + 1):
        sql += """,
a%d AS MATERIALIZED (
  SELECT v.vertex, COALESCE(s.s, 0) AS a FROM verts v
  LEFT JOIN (SELECT e.dst AS vertex, SUM(h.h) AS s
             FROM edges e JOIN hn%d h ON e.src = h.vertex
             GROUP BY e.dst) s ON s.vertex = v.vertex),
hh%d AS MATERIALIZED (
  SELECT v.vertex, COALESCE(s.s, 0) AS h FROM verts v
  LEFT JOIN (SELECT e.src AS vertex, SUM(a.a) AS s
             FROM edges e JOIN a%d a ON e.dst = a.vertex
             GROUP BY e.src) s ON s.vertex = v.vertex),
an%d AS MATERIALIZED (
  SELECT vertex, a * (1.0 / (SELECT MAX(a) FROM a%d)) AS a FROM a%d),
hn%d AS MATERIALIZED (
  SELECT vertex, h * (1.0 / (SELECT MAX(h) FROM hh%d)) AS h
  FROM hh%d)""" % (k, k - 1, k, k, k, k, k, k, k, k)
    sql += """
SELECT h.vertex,
       round(h.h * (1.0 / (SELECT SUM(h) FROM hn%d)), 6) AS hub_r,
       round(a.a * (1.0 / (SELECT SUM(a) FROM an%d)), 6) AS authority_r
FROM hn%d h JOIN an%d a ON h.vertex = a.vertex""" % (
        iterations, iterations, iterations, iterations)
    return sql


def _coloring_sql(rounds: int = 8) -> str:
    """Unrolled priority-round coloring replay (mirrors
    graphs.greedy_coloring on the planted 8-vertex paths)."""
    ctes = ["""
        und AS (SELECT doc_id AS u, doc_id + 1 AS v FROM documents
                WHERE doc_id % 8 <> 7),
        both_ AS (SELECT u AS a, v AS b FROM und
                  UNION ALL SELECT v, u FROM und),
        s0 AS MATERIALIZED (
          SELECT node,
                 CAST(('0x' || substr(md5('color:' || node), 1, 8))
                      AS BIGINT) * 100000 + node % 100000
                   AS priority,
                 CAST(NULL AS BIGINT) AS color
          FROM (SELECT DISTINCT a AS node FROM both_))"""]
    for r in range(1, rounds + 1):
        ctes.append("""
        nb%d AS (SELECT e.a AS node, MAX(s.priority) AS nbmax
                 FROM both_ e JOIN s%d s ON e.b = s.node
                 WHERE s.color IS NULL GROUP BY e.a),
        s%d AS MATERIALIZED (
          SELECT s.node, s.priority,
                 COALESCE(s.color,
                          CASE WHEN s.color IS NULL
                                AND (n.nbmax IS NULL
                                     OR s.priority > n.nbmax)
                               THEN %d END) AS color
          FROM s%d s LEFT JOIN nb%d n ON s.node = n.node)"""
                    % (r, r - 1, r, r, r - 1, r))
    return ("WITH " + ",".join(ctes)
            + " SELECT node, priority, CAST(color AS BIGINT) AS color"
              " FROM s%d ORDER BY node" % rounds)


@query("kg_ispartof_closure", oracle="WITH " + _F_CTE + """
    SELECT doc_uri || '#S' || s AS uri, doc_uri AS ancestor_uri,
           1 AS depth FROM secs
    UNION ALL
    SELECT doc_uri || '#S' || s || '.1', doc_uri || '#S' || s, 1
    FROM subs
    UNION ALL
    SELECT doc_uri || '#S' || s || '.1', doc_uri, 2 FROM subs""")
def _q_ispartof_closure(spark, sf_dir):
    return ispartof_closure(_triples(spark, sf_dir))


@query("kg_citation_counts", oracle="WITH " + _F_CTE + ", " + _MENTION_TRIPLES
    + """
    SELECT obj AS target_uri, COUNT(*) AS n_mentions,
           COUNT(DISTINCT context) AS n_citing_docs
    FROM mention_triples GROUP BY obj""")
def _q_citation_counts(spark, sf_dir):
    return citation_counts(_triples(spark, sf_dir))


@query("kg_pagerank", oracle=_pagerank_sql(iterations=10, damping=0.85))
def _q_pagerank(spark, sf_dir):
    # only dcterms:references triples feed the citation graph — feed
    # that branch alone instead of materializing the full triples union
    return citation_pagerank(mention_triples(_docs(spark, sf_dir)),
                             iterations=10)


@query("kg_hits", oracle=_hits_sql(iterations=10))
def _q_hits(spark, sf_dir):
    """Graph analytics, second ranking: HITS hubs/authorities over the
    citation graph (graphanalyze.py:913 `hits(graph)[1]`) — networkx
    semantics, fixed 10 rounds, closed-form unrolled-CTE oracle."""
    return citation_hits(mention_triples(_docs(spark, sf_dir)),
                         iterations=10)


@query("kg_deps_edges", oracle="WITH " + _F_CTE + """
    SELECT url AS context, 'rfc' AS repo,
           'https://example.org/res/rfc/'
           || (100 + (doc_id * 7 + s) % 900) AS target_uri
    FROM secs
    UNION
    SELECT url, 'rfc',
           'https://example.org/res/rfc/'
           || (100 + (doc_id * 11 + s) % 900) || '#S' || s
    FROM subs
    UNION SELECT url, 'entity', entity_uri FROM f
    UNION SELECT url, 'org', publisher_uri FROM f""")
def _q_deps_edges(spark, sf_dir):
    """J2 dependency resolution: external object URIs matched against
    the repo URI-pattern dimension (relate_dependencies semantics:
    skip rdf:type/owl:sameAs, skip intra-doc subjects)."""
    patterns = spark.createDataFrame(
        [("https://example.org/res/rfc/", "rfc"),
         ("https://example.org/res/entity/", "entity"),
         ("https://example.org/res/org/", "org"),
         ("https://example.org/res/doc/", "doc")],
        "prefix string, repo string")
    return deps_edges(_triples(spark, sf_dir), patterns)


@query("kg_annotations", oracle="WITH " + _F_CTE + """,
    nsub AS (
      SELECT f.doc_id, f.doc_uri, f.n_sections,
             (SELECT COUNT(*) FROM subs
              WHERE subs.doc_id = f.doc_id) AS n_subs
      FROM f)
    SELECT doc_uri,
           CAST(n_sections + n_subs AS BIGINT) AS n_parts,
           CAST(n_sections + n_subs AS BIGINT) AS n_part_refs
    FROM nsub""")
def _q_annotations(spark, sf_dir):
    """J3 complete: per-doc annotation record (parts closure +
    part-emitted references) that generate() consumes."""
    return annotations(_triples(spark, sf_dir))


@query("kg_rdfs_entailed", oracle="WITH " + _F_CTE + """,
    inf AS (
      -- rdfs7: mentions ⊑ references (1/doc)
      SELECT doc_uri AS subj,
             'http://purl.org/dc/terms/references' AS pred
      FROM f
      -- rdfs7 transitive: mentions ⊑ relation (1/doc)
      UNION ALL SELECT doc_uri,
             'http://purl.org/dc/terms/relation' FROM f
      -- rdfs7: references ⊑ relation (section + subsection
      -- mention triples)
      UNION ALL SELECT doc_uri || '#S' || s,
             'http://purl.org/dc/terms/relation' FROM secs
      UNION ALL SELECT doc_uri || '#S' || s || '.1',
             'http://purl.org/dc/terms/relation' FROM subs
      -- rdfs9: bibo:Document ⊑ foaf:Document and ⊑ owl:Thing
      UNION ALL SELECT doc_uri,
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM f
      UNION ALL SELECT doc_uri,
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' FROM f
      -- rdfs9: bibo:DocumentPart ⊑ owl:Thing
      UNION ALL SELECT doc_uri || '#S' || s,
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
        FROM secs
      UNION ALL SELECT doc_uri || '#S' || s || '.1',
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
        FROM subs
      -- rdfs3: range(mentions) = ex:Entity, one row per doc
      -- (inference is per named graph / context)
      UNION ALL SELECT entity_uri,
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
        FROM f)
    SELECT pred, COUNT(*) AS n_triples,
           COUNT(DISTINCT subj) AS n_subjects
    FROM inf GROUP BY pred ORDER BY pred""")
def _q_rdfs_entailed(spark, sf_dir):
    """RDFS forward chaining (graphs.rdfs_entailment) over the full KG
    with a planted ontology: a subclass chain (bibo:Document ⊑
    foaf:Document ⊑ owl:Thing), a sub-property chain (schema:mentions
    ⊑ dcterms:references ⊑ dcterms:relation), a range
    (schema:mentions → ex:Entity) and a domain that only re-derives
    asserted types (dcterms:isPartOf → bibo:DocumentPart — exercises
    the dedup/anti-join path).  Returns the inferred-only delta
    aggregated per predicate; inference is per named graph, so a
    class membership derived in many documents counts once per
    context (provenance preserved)."""
    FOAF_DOC = "http://xmlns.com/foaf/0.1/Document"
    OWL_THING = "http://www.w3.org/2002/07/owl#Thing"
    ENTITY = "https://example.org/def/Entity"
    onto = spark.createDataFrame([
        (vocab.BIBO_DOCUMENT, RDFS_SUBCLASSOF, FOAF_DOC),
        (FOAF_DOC, RDFS_SUBCLASSOF, OWL_THING),
        (vocab.BIBO_DOCUMENTPART, RDFS_SUBCLASSOF, OWL_THING),
        (vocab.SCHEMA_MENTIONS, RDFS_SUBPROPERTYOF,
         vocab.DCTERMS_REFERENCES),
        (vocab.DCTERMS_REFERENCES, RDFS_SUBPROPERTYOF,
         vocab.DCTERMS + "relation"),
        (vocab.SCHEMA_MENTIONS, RDFS_RANGE, ENTITY),
        (vocab.DCTERMS_ISPARTOF, RDFS_DOMAIN, vocab.BIBO_DOCUMENTPART),
    ], "subj string, pred string, obj string")
    inferred = rdfs_entailment(_triples(spark, sf_dir), onto,
                               inferred_only=True)
    return (inferred.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_triples"),
                 F.countDistinct("subj").alias("n_subjects"))
            .orderBy("pred"))


# naive a<b<c 3-way join is the oracle; the Spark side uses
# degree orientation — same triangles, different join order
# 2-core by peeling, unrolled 4 rounds (provably convergent
# for the planted per-block triangle + 3-chain + lone edge)
@query("kg_kcore", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e0 AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b + 1, b + 2 FROM blk
      UNION ALL SELECT b, b + 2 FROM blk
      UNION ALL SELECT b + 2, b + 3 FROM blk
      UNION ALL SELECT b + 3, b + 4 FROM blk
      UNION ALL SELECT b + 4, b + 5 FROM blk
      UNION ALL SELECT b + 6, b + 7 FROM blk),
    nodes AS (SELECT DISTINCT n FROM
      (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)),
    d0 AS (SELECT n, COUNT(*) AS d FROM
      (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
      GROUP BY n),
    e1 AS (SELECT u, v FROM e0
           WHERE u NOT IN (SELECT n FROM d0 WHERE d < 2)
             AND v NOT IN (SELECT n FROM d0 WHERE d < 2)),
    d1 AS (SELECT n, COUNT(*) AS d FROM
      (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1)
      GROUP BY n),
    e2 AS (SELECT u, v FROM e1
           WHERE u NOT IN (SELECT n FROM d1 WHERE d < 2)
             AND v NOT IN (SELECT n FROM d1 WHERE d < 2)),
    d2 AS (SELECT n, COUNT(*) AS d FROM
      (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)
      GROUP BY n),
    e3 AS (SELECT u, v FROM e2
           WHERE u NOT IN (SELECT n FROM d2 WHERE d < 2)
             AND v NOT IN (SELECT n FROM d2 WHERE d < 2)),
    d3 AS (SELECT n, COUNT(*) AS d FROM
      (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
      GROUP BY n),
    e4 AS (SELECT u, v FROM e3
           WHERE u NOT IN (SELECT n FROM d3 WHERE d < 2)
             AND v NOT IN (SELECT n FROM d3 WHERE d < 2)),
    dfin AS (SELECT n, COUNT(*) AS core_degree FROM
      (SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4)
      GROUP BY n)
    SELECT nodes.n AS node, dfin.n IS NOT NULL AS in_core,
           dfin.core_degree
    FROM nodes LEFT JOIN dfin ON nodes.n = dfin.n
    ORDER BY node""")
def _q_kg_kcore(spark, sf_dir):
    """2-core membership by iterative peeling over a planted
    closed-form graph: per 20-doc block, a triangle (the core), a
    3-edge pendant chain hanging off it (peels in exactly 3 rounds —
    exercises the fixpoint, bounded for every sf), and an isolated
    edge (peels in round 1).  The oracle unrolls 4 peel rounds, which
    is provably convergent for this structure."""
    edges = block_edges(spark, sf_dir, _TRIANGLE_CHAIN_EDGE)
    return kcore(edges, k=2).orderBy("node")


# Jaccard over bounded common neighbours, true-degree union
@query("kg_jaccard_links", oracle="WITH " + _F_CTE + ", "
    + _MENTION_TRIPLES + """,
    und AS (
      SELECT DISTINCT least(context, obj) AS u,
                      greatest(context, obj) AS v
      FROM mention_triples WHERE context <> obj),
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM und
        UNION ALL SELECT v FROM und) GROUP BY n),
    spokes AS (
      SELECT u AS z, v AS x FROM und
      UNION ALL SELECT v, u FROM und),
    zok AS (SELECT n AS z FROM deg WHERE d BETWEEN 2 AND 64),
    wedge AS (SELECT s.z, s.x
              FROM spokes s JOIN zok USING (z)),
    ps AS (
      SELECT a.x AS x, b.x AS y, COUNT(*) AS n_common
      FROM wedge a JOIN wedge b
        ON a.z = b.z AND a.x < b.x
      GROUP BY 1, 2),
    sc AS (
      SELECT ps.x, ps.y, ps.n_common,
             round(ps.n_common * 1.0
                   / (du.d + dv.d - ps.n_common), 6)
               AS jaccard
      FROM ps JOIN deg du ON du.n = ps.x
              JOIN deg dv ON dv.n = ps.y)
    SELECT x AS node_a, y AS node_b, n_common, jaccard
    FROM sc
    WHERE NOT EXISTS (SELECT 1 FROM und p
                      WHERE p.u = sc.x AND p.v = sc.y)
    ORDER BY jaccard DESC, node_a, node_b LIMIT 200""")
def _q_kg_jaccard_links(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the citation graph —
    the set-overlap companion to Adamic-Adar; same hub cut (64) and
    wedge shape, true degrees in the denominator; top 200 by
    (jaccard, pair)."""
    edges = mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("doc_a"), F.col("obj").alias("doc_b"))
    return (jaccard_neighbors(edges, max_degree=64)
            .orderBy(F.col("jaccard").desc(), "node_a", "node_b")
            .limit(200))


# Newman assortativity from exact integer sums
@query("kg_assortativity", oracle="WITH " + _F_CTE + ", "
    + _MENTION_TRIPLES + """,
    und AS (
      SELECT DISTINCT least(context, obj) AS u,
                      greatest(context, obj) AS v
      FROM mention_triples WHERE context <> obj),
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM und
        UNION ALL SELECT v FROM und) GROUP BY n),
    be AS (SELECT u, v FROM und
           UNION ALL SELECT v, u FROM und),
    jj AS (SELECT du.d AS x, dv.d AS y
           FROM be JOIN deg du ON du.n = be.u
                   JOIN deg dv ON dv.n = be.v),
    s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                 SUM(y * y) AS syy
          FROM jj)
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)),
                 6) AS assortativity
    FROM s""")
def _q_kg_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the citation graph: one
    scalar from exact decimal sums over edge-end degree pairs — two
    node-keyed degree joins and a 1-row aggregate."""
    edges = mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("doc_a"), F.col("obj").alias("doc_b"))
    return degree_assortativity(edges)


@query("kg_dup_triangles", oracle="WITH " + _MINHASH_CTE + """,
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    tri AS (
      SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a
                   AND e3.doc_b = e2.doc_b),
    corners AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM corners GROUP BY doc_id ORDER BY doc_id""")
def _q_dup_triangles(spark, sf_dir):
    """Degree-oriented distributed triangle counting over the
    MinHash-LSH duplicate-pair graph (near-dup cluster density — a
    triangle-rich node sits in a tight dup cluster, a triangle-free
    one in a chain of borderline matches).  Orientation bounds wedge
    fan-out at O(sqrt(|E|)) per node, so hub documents cannot explode
    the self-join at 10^12-edge scale."""
    pairs = minhash_band_pairs(_read(spark, sf_dir, "documents"),
                               n=3, num_hashes=8, band_size=2)
    return (triangle_counts(pairs)
            .select(F.col("node").alias("doc_id"), "n_triangles")
            .orderBy("doc_id"))


# Adamic-Adar over the undirected citation graph: hub cut
# d in [2, 64], wedge self-join on z, NOT EXISTS for
# non-adjacency, global top-200 by (score, pair)
@query("kg_link_prediction", oracle="WITH " + _F_CTE + ", "
    + _MENTION_TRIPLES + """,
    und AS (
      SELECT DISTINCT least(context, obj) AS u,
                      greatest(context, obj) AS v
      FROM mention_triples WHERE context <> obj),
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM und
        UNION ALL SELECT v FROM und) GROUP BY n),
    spokes AS (
      SELECT u AS z, v AS x FROM und
      UNION ALL SELECT v, u FROM und),
    zw AS (SELECT n AS z,
                  1.0 / ln(CAST(d AS DOUBLE)) AS w
           FROM deg WHERE d BETWEEN 2 AND 64),
    wedge AS (SELECT s.z, s.x, zw.w
              FROM spokes s JOIN zw USING (z)),
    ps AS (
      SELECT a.x AS x, b.x AS y,
             COUNT(*) AS n_common,
             round(SUM(a.w), 6) AS aa_score
      FROM wedge a JOIN wedge b
        ON a.z = b.z AND a.x < b.x
      GROUP BY 1, 2)
    SELECT x AS node_a, y AS node_b, n_common, aa_score
    FROM ps
    WHERE NOT EXISTS (SELECT 1 FROM und p
                      WHERE p.u = ps.x AND p.v = ps.y)
    ORDER BY aa_score DESC, node_a, node_b LIMIT 200""")
def _q_link_prediction(spark, sf_dir):
    """Adamic-Adar missing-link prediction over the citation graph
    (doc url -> cited target, undirected): non-adjacent pairs scored
    by sum 1/ln(deg) over common neighbours — co-citation pairs the
    extractor never linked directly, the predictive companion to the
    descriptive pagerank/HITS suite.  Degree-capped at 64 (the hub
    cut that bounds wedge fan-out at 10^12-edge scale, mirrored in
    the oracle); top 200 by (score, pair) — a global TakeOrdered,
    never a full sort."""
    edges = mention_triples(_docs(spark, sf_dir)).select(
        F.col("context").alias("doc_a"), F.col("obj").alias("doc_b"))
    return (adamic_adar(edges, max_degree=64)
            .orderBy(F.col("aa_score").desc(), "node_a", "node_b")
            .limit(200))


# Co-citation: wedge on the citing doc (out-degree hub cut
# 2..64), Salton cosine over TRUE in-degrees, min_common 1
@query("kg_cocitation", oracle="WITH " + _F_CTE + ", "
    + _MENTION_TRIPLES + """,
    e AS (SELECT DISTINCT context AS s, obj AS t
          FROM mention_triples WHERE context <> obj),
    odeg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s),
    ok AS (SELECT s FROM odeg WHERE d BETWEEN 2 AND 64),
    w AS (SELECT e.s, e.t FROM e JOIN ok USING (s)),
    ps AS (SELECT a.t AS a, b.t AS b, COUNT(*) AS n_common
           FROM w a JOIN w b ON a.s = b.s AND a.t < b.t
           GROUP BY 1, 2),
    indeg AS (SELECT t, COUNT(*) AS cited FROM e GROUP BY t)
    SELECT a AS node_a, b AS node_b, n_common,
           round(n_common / sqrt(ia.cited * 1.0 * ib.cited), 6)
             AS salton
    FROM ps JOIN indeg ia ON ps.a = ia.t
            JOIN indeg ib ON ps.b = ib.t
    ORDER BY salton DESC, node_a, node_b LIMIT 200""")
def _q_cocitation(spark, sf_dir):
    """Co-citation strength (Small 1973) over the citation graph:
    targets cited TOGETHER by the same documents, Salton-cosine
    normalized by true in-degree — merge/related candidates in KG
    construction, the descriptive dual of kg_link_prediction's
    Adamic-Adar.  Hub cut at out-degree 64 (mirrored in the oracle)
    bounds the wedge self-join; top 200 by (salton, pair) is a
    TakeOrdered, never a full sort."""
    return (cocitation(_citation_edges(spark, sf_dir),
                       max_fanout=64, min_common=1)
            .orderBy(F.col("salton").desc(), "node_a", "node_b")
            .limit(200))


# Bibliographic coupling: wedge on the cited target
# (in-degree hub cut), Salton over TRUE out-degrees
@query("kg_biblio_coupling", oracle="WITH " + _F_CTE + ", "
    + _MENTION_TRIPLES + """,
    e AS (SELECT DISTINCT context AS s, obj AS t
          FROM mention_triples WHERE context <> obj),
    ideg AS (SELECT t, COUNT(*) AS d FROM e GROUP BY t),
    ok AS (SELECT t FROM ideg WHERE d BETWEEN 2 AND 64),
    w AS (SELECT e.s, e.t FROM e JOIN ok USING (t)),
    ps AS (SELECT a.s AS a, b.s AS b, COUNT(*) AS n_common
           FROM w a JOIN w b ON a.t = b.t AND a.s < b.s
           GROUP BY 1, 2),
    odeg AS (SELECT s, COUNT(*) AS refs FROM e GROUP BY s)
    SELECT a AS node_a, b AS node_b, n_common,
           round(n_common / sqrt(oa.refs * 1.0 * ob.refs), 6)
             AS salton
    FROM ps JOIN odeg oa ON ps.a = oa.s
            JOIN odeg ob ON ps.b = ob.s
    ORDER BY salton DESC, node_a, node_b LIMIT 200""")
def _q_biblio_coupling(spark, sf_dir):
    """Bibliographic coupling (Kessler 1963): documents sharing
    references, Salton-normalized by true out-degree — the forward
    dual of kg_cocitation (fixed at publication time).  Hub cut drops
    references cited by > 64 docs (the idf rationale: a spec everyone
    cites discriminates nothing)."""
    return (biblio_coupling(_citation_edges(spark, sf_dir),
                            max_fanout=64, min_common=1)
            .orderBy(F.col("salton").desc(), "node_a", "node_b")
            .limit(200))


# degree + corner-counted triangles + the 2t/(d(d-1)) formula
@query("kg_dup_clustering", oracle="WITH " + _MINHASH_CTE + """,
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
    tri AS (
      SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a
                   AND e3.doc_b = e2.doc_b),
    tc AS (
      SELECT doc_id, COUNT(*) AS n_triangles FROM (
        SELECT x AS doc_id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY doc_id)
    SELECT d.doc_id, d.degree,
           coalesce(tc.n_triangles, 0) AS n_triangles,
           round(CASE WHEN d.degree >= 2
                 THEN 2.0 * coalesce(tc.n_triangles, 0)
                      / (d.degree * (d.degree - 1.0))
                 ELSE 0.0 END, 6) AS clustering
    FROM deg d LEFT JOIN tc USING (doc_id)
    ORDER BY d.doc_id""")
def _q_dup_clustering(spark, sf_dir):
    """Local clustering coefficient over the MinHash dup-pair graph
    (2*tri/(d*(d-1))): cluster tightness per document — 1.0 = clique
    member, ~0 = chain/star of borderline matches."""
    pairs = minhash_band_pairs(_read(spark, sf_dir, "documents"),
                               n=3, num_hashes=8, band_size=2)
    return (clustering_coefficients(pairs)
            .select(F.col("node").alias("doc_id"),
                    F.col("degree"), "n_triangles", "clustering")
            .orderBy("doc_id"))


@query("kg_degree_distribution", oracle=(
    "WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """,
    deg AS (
      SELECT obj, COUNT(DISTINCT context) AS d
      FROM mention_triples GROUP BY obj)
    SELECT d AS in_degree, COUNT(*) AS n_targets
    FROM deg GROUP BY d ORDER BY in_degree"""))
def _q_degree_distribution(spark, sf_dir):
    """Citegraph degree distribution (graphanalyze.py:537-576 minus
    the matplotlib rendering): how many cited targets have each
    citing-document count — two hash aggregates over the references
    edge set."""
    return (degree_distribution(_triples(spark, sf_dir))
            .orderBy("in_degree"))


@query("kg_ranking_ap", oracle="""
    WITH d AS (
      SELECT doc_id, 'pub' || (doc_id % 7) AS query,
             CAST(doc_id AS VARCHAR) AS item
      FROM documents),
    r AS (
      SELECT query, item,
             ROW_NUMBER() OVER (PARTITION BY query
                                ORDER BY doc_id) AS rank,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
      FROM d),
    c AS (
      SELECT query, rank, rel,
             SUM(rel) OVER (PARTITION BY query ORDER BY rank)
               AS cum
      FROM r)
    SELECT query,
           round(AVG(CAST(cum AS DOUBLE) / rank), 6) AS ap
    FROM c WHERE rel = 1 GROUP BY query ORDER BY query""")
def _q_ranking_ap(spark, sf_dir):
    """Ranking evaluation with the reference's AP semantics
    (eval_calc_aps, graphanalyze.py:760-806): per-publisher rankings
    of that publisher's documents (by doc_id) scored against a planted
    gold standard (doc_id % 3 == 0) — per-query average precision, the
    building block of its MAP study."""
    d = (_read(spark, sf_dir, "documents")
         .select("doc_id",
                 F.concat(F.lit("pub"), (F.col("doc_id") % 7)
                          .cast("string")).alias("query"),
                 F.col("doc_id").cast("string").alias("item")))
    ranked = d.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("query").orderBy("doc_id")))
    gold = d.where(F.col("doc_id") % 3 == 0).select("query", "item")
    return (average_precision(ranked.select("query", "item", "rank"),
                              gold)
            .select("query", F.round("ap", 6).alias("ap"))
            .orderBy("query"))


# binary nDCG with ln2/ln(rank+1) discount; ideal truncated
# to min(n_gold, n_ranked)
@query("kg_ranking_ndcg", oracle="""
    WITH d AS (
      SELECT doc_id, 'pub' || (doc_id % 7) AS query,
             CAST(doc_id AS VARCHAR) AS item
      FROM documents),
    r AS (
      SELECT query, item,
             ROW_NUMBER() OVER (PARTITION BY query
                                ORDER BY doc_id) AS rank,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
      FROM d),
    dcg AS (
      SELECT query, SUM(ln(2.0) / ln(rank + 1.0)) AS dcg
      FROM r WHERE rel = 1 GROUP BY query),
    sizes AS (
      SELECT query, COUNT(*) AS n_ranked,
             CAST(SUM(rel) AS BIGINT) AS n_gold
      FROM r GROUP BY query HAVING SUM(rel) > 0),
    ideal AS (
      SELECT query, n_gold,
             SUM(ln(2.0) / ln(i + 1.0)) AS idcg
      FROM (SELECT query, n_gold,
                   unnest(generate_series(
                     1, least(CAST(n_gold AS BIGINT),
                              CAST(n_ranked AS BIGINT)))) AS i
            FROM sizes)
      GROUP BY query, n_gold)
    SELECT i.query, i.n_gold,
           round(COALESCE(d.dcg, 0.0) / i.idcg, 6) AS ndcg
    FROM ideal i LEFT JOIN dcg d ON i.query = d.query
    ORDER BY i.query""")
def _q_ranking_ndcg(spark, sf_dir):
    """Binary-relevance nDCG over the same planted per-publisher
    rankings and gold standard as kg_ranking_ap — the position-
    discounted counterpart of the reference's AP study."""
    d = (_read(spark, sf_dir, "documents")
         .select("doc_id",
                 F.concat(F.lit("pub"), (F.col("doc_id") % 7)
                          .cast("string")).alias("query"),
                 F.col("doc_id").cast("string").alias("item")))
    ranked = d.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("query").orderBy("doc_id")))
    gold = d.where(F.col("doc_id") % 3 == 0).select("query", "item")
    return (ndcg(ranked.select("query", "item", "rank"), gold)
            .orderBy("query"))


# BFS closed-form: dist(n) = min over seeds of ceil((n-s)/2)
@query("kg_bfs_distances", oracle="""
    WITH seeds AS (
      SELECT doc_id AS s FROM documents WHERE doc_id % 100 = 0),
    nodes AS (
      SELECT DISTINCT n FROM (
        SELECT doc_id AS n FROM documents
        UNION SELECT doc_id + 1 FROM documents
        UNION SELECT doc_id + 2 FROM documents)),
    d AS (
      SELECT n, MIN((n - s + 1) // 2) AS dist
      FROM nodes JOIN seeds ON n - s BETWEEN 0 AND 6
      GROUP BY n)
    SELECT CAST(n AS BIGINT) AS node, CAST(dist AS INT) AS dist
    FROM d ORDER BY node""")
def _q_bfs_distances(spark, sf_dir):
    """Multi-source BFS over the citation graph (edges d -> d+1 and
    d -> d+2, seeds every 100th doc, 3 hops): layer-synchronous
    frontier joins with per-round lineage cuts; min-distance is
    implicit in BFS layering.  Oracle: dist(n) = min over seeds s of
    ceil((n-s)/2) for 0 <= n-s <= 6, closed-form."""
    d = _read(spark, sf_dir, "documents")
    e1 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 1).alias("doc_b"))
    e2 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 2).alias("doc_b"))
    seeds = (d.where(F.col("doc_id") % 100 == 0)
             .select(F.col("doc_id").alias("node")))
    return (bfs_distances(e1.unionByName(e2), seeds, max_hops=3)
            .orderBy("node"))


@query("kg_neighbor_agg", oracle="""
    WITH e AS (
      SELECT doc_id AS u, doc_id + 1 AS v FROM documents
      UNION ALL
      SELECT doc_id, doc_id + 2 FROM documents),
    ft AS (
      SELECT doc_id AS v, CAST(n_chars AS BIGINT) AS x
      FROM documents),
    h1 AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS h1_n,
             CAST(SUM(x) AS BIGINT) AS h1_sum
      FROM e JOIN ft USING (v) GROUP BY u),
    e2 AS (
      SELECT a.u, b.v FROM e a
      JOIN (SELECT u AS m, v FROM e) b ON a.v = b.m),
    h2 AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS h2_n,
             CAST(SUM(x) AS BIGINT) AS h2_sum
      FROM e2 JOIN ft USING (v) GROUP BY u)
    SELECT h1.node, h1.h1_n, h1.h1_sum,
           COALESCE(h2.h2_n, 0) AS h2_n,
           COALESCE(h2.h2_sum, 0) AS h2_sum
    FROM h1 LEFT JOIN h2 ON h1.node = h2.node
    ORDER BY h1.node""")
def _q_neighbor_agg(spark, sf_dir):
    """GraphSAGE-style 1- and 2-hop feature aggregation (path-count
    semantics) over the citation graph with n_chars as the node
    feature — the pre-training feature-engineering step."""
    d = _read(spark, sf_dir, "documents")
    e1 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 1).alias("doc_b"))
    e2 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 2).alias("doc_b"))
    feats = d.select(F.col("doc_id").alias("node"),
                     F.col("n_chars").alias("feature"))
    return (neighbor_feature_agg(e1.unionByName(e2), feats)
            .orderBy("node"))


# synchronous LPA unrolled 4 rounds, min-of-argmax tie-break —
# mirrors label_propagation() round by round
@query("kg_label_prop", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e0 AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b + 1, b + 2 FROM blk
      UNION ALL SELECT b, b + 2 FROM blk
      UNION ALL SELECT b + 2, b + 5 FROM blk
      UNION ALL SELECT b + 5, b + 6 FROM blk
      UNION ALL SELECT b + 6, b + 7 FROM blk
      UNION ALL SELECT b + 5, b + 7 FROM blk),
    und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
    c1 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l0 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l1 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c1) t WHERE c = mx GROUP BY node),
    c2 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l1 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l2 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c2) t WHERE c = mx GROUP BY node),
    c3 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l2 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l3 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c3) t WHERE c = mx GROUP BY node),
    c4 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l3 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l4 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c4) t WHERE c = mx GROUP BY node)
    SELECT node, lbl AS label FROM l4 ORDER BY node""")
def _q_label_prop(spark, sf_dir):
    """Community detection: synchronous label propagation (4 rounds,
    min-of-argmax tie-break) over a planted two-community graph — per
    20-doc block a triangle, a bridge edge, and a second triangle.
    The oracle unrolls the same 4 rounds in SQL, so the comparison is
    algorithm-exact, not just converged-answer-exact."""
    edges = block_edges(spark, sf_dir, _TWO_TRIANGLES)
    return label_propagation(edges, rounds=4).orderBy("node")


# reduction of chain+skips is provably the chain
@query("kg_taxonomy_reduction", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0)
    SELECT b AS doc_a, b + 1 AS doc_b FROM blk
    UNION ALL SELECT b + 1, b + 2 FROM blk
    UNION ALL SELECT b + 2, b + 3 FROM blk
    ORDER BY doc_a, doc_b""")
def _q_taxonomy_reduction(spark, sf_dir):
    """Transitive reduction of a planted hypernym DAG: per 20-doc
    block a 4-node chain plus all three skip edges; the reduction
    must keep exactly the chain — the Hearst-output cleanup step."""
    edges = block_edges(spark, sf_dir, [(0, 1), (1, 2), (2, 3), (0, 2), (0, 3),
                                        (1, 3)])
    return (transitive_reduction(edges)
            .orderBy("doc_a", "doc_b"))


@query("kg_ppr", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e0 AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b + 1, b + 2 FROM blk
      UNION ALL SELECT b + 2, b FROM blk
      UNION ALL SELECT b, b + 2 FROM blk),
    deg AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
    e AS (SELECT e0.u, e0.v, deg.d FROM e0
          JOIN deg ON e0.u = deg.u),
    seed AS (SELECT b AS node, 0.5 AS sm FROM blk),
    r0 AS (SELECT node, sm AS score FROM seed),
    s1 AS (SELECT e.v AS node, SUM(r0.score * 0.5 / e.d) AS sc
           FROM r0 JOIN e ON r0.node = e.u GROUP BY e.v),
    r1 AS (SELECT COALESCE(s1.node, seed.node) AS node,
                  COALESCE(s1.sc, 0) + COALESCE(seed.sm, 0)
                    AS score
           FROM s1 FULL OUTER JOIN seed
             ON s1.node = seed.node),
    s2 AS (SELECT e.v AS node, SUM(r1.score * 0.5 / e.d) AS sc
           FROM r1 JOIN e ON r1.node = e.u GROUP BY e.v),
    r2 AS (SELECT COALESCE(s2.node, seed.node) AS node,
                  COALESCE(s2.sc, 0) + COALESCE(seed.sm, 0)
                    AS score
           FROM s2 FULL OUTER JOIN seed
             ON s2.node = seed.node),
    s3 AS (SELECT e.v AS node, SUM(r2.score * 0.5 / e.d) AS sc
           FROM r2 JOIN e ON r2.node = e.u GROUP BY e.v),
    r3 AS (SELECT COALESCE(s3.node, seed.node) AS node,
                  COALESCE(s3.sc, 0) + COALESCE(seed.sm, 0)
                    AS score
           FROM s3 FULL OUTER JOIN seed
             ON s3.node = seed.node)
    SELECT node, score FROM r3 ORDER BY node""")
def _q_ppr(spark, sf_dir):
    """Personalized PageRank, 3 rounds, alpha=0.5 over a planted
    per-block cycle+chord graph: out-degrees are 1 or 2, alpha is
    dyadic, so every score is an exact IEEE double and the oracle
    (which unrolls the same recursion) compares hash-exact."""
    b = block_roots(spark, sf_dir)
    edges = block_edges(spark, sf_dir, _CYCLE_CHORD)
    seeds = b.select(F.col("b").alias("node"))
    return (personalized_pagerank(edges, seeds, iterations=3,
                                  alpha=0.5)
            .orderBy("node"))


# PPR recursion unrolled 3 rounds; all scores dyadic-exact
@query("kg_spam_mass", oracle=_spam_mass_sql(pr_iters=5, ppr_iters=3))
def _q_spam_mass(spark, sf_dir):
    """Relative spam mass (Gyongyi VLDB 2006) over the planted
    per-block cycle+chord graph: global PageRank (damping 0.5, 5
    rounds) minus |seeds|-normalized TrustRank (PPR from the b%40==0
    block roots, 3 rounds, alpha 0.5), over PageRank.  Planted
    out-degrees are 1-2 and every constant is dyadic, so both loops
    are exact IEEE and the unrolled oracle compares hash-exact.
    Untrusted blocks surface at mass 1.0 — the link-farm signature."""
    b = block_roots(spark, sf_dir)
    edges = block_edges(spark, sf_dir, _CYCLE_CHORD)
    trusted = (b.where(F.col("b") % 40 == 0)
               .select(F.col("b").alias("node")))
    return spam_mass(edges, trusted).orderBy("node")


@query("kg_simrank", oracle=_simrank_sql(iterations=2))
def _q_simrank(spark, sf_dir):
    """SimRank (2 iterations, C=0.5) over a planted per-block graph
    whose in-degrees are all powers of two: every score is an exact
    sum of dyadic rationals, so the unrolled oracle compares
    hash-exact with no float-order hazard.  Block shape (b->b+2,
    b+1->b+2, b->b+3, b+1->b+3, b+2->b+4, b+3->b+4, b+3->b+1,
    b+4->b+1) plants both first-iteration co-citation pairs and
    second-iteration similarity that only SimRank's recursion
    reaches."""
    edges = block_edges(spark, sf_dir, [(0, 2), (1, 2), (0, 3), (1, 3), (2, 4),
                                        (3, 4), (3, 1), (4, 1)])
    return (simrank(edges, iterations=2, c=0.5)
            .orderBy("node_a", "node_b"))


# HyperBall registers: 2 unrolled propagation rounds over the
# planted 4-cycle, portable md5 rank recipe (salt "hb")
@query("kg_hyperball", oracle=r"""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e AS (SELECT b AS u, b + 1 AS v FROM blk
          UNION ALL SELECT b + 1, b + 2 FROM blk
          UNION ALL SELECT b + 2, b + 3 FROM blk
          UNION ALL SELECT b + 3, b FROM blk),
    nodes AS (SELECT u AS node FROM e
              UNION SELECT v FROM e),
    h AS (SELECT node,
            CAST(('0x' || substr(md5('hb:' ||
              CAST(node AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
          FROM nodes),
    r0 AS (SELECT node, hv % 16 AS register,
             CAST(CASE WHEN (hv - hv % 16) // 16 = 0 THEN 25
                  ELSE bit_count(xor((hv - hv % 16) // 16,
                         (hv - hv % 16) // 16 - 1)) END
               AS INT) AS max_rank
           FROM h),
    r1 AS (SELECT node, register,
                  CAST(MAX(max_rank) AS INT) AS max_rank
           FROM (SELECT node, register, max_rank FROM r0
                 UNION ALL
                 SELECT e.u, r0.register, r0.max_rank
                 FROM e JOIN r0 ON r0.node = e.v)
           GROUP BY node, register),
    r2 AS (SELECT node, register,
                  CAST(MAX(max_rank) AS INT) AS max_rank
           FROM (SELECT node, register, max_rank FROM r1
                 UNION ALL
                 SELECT e.u, r1.register, r1.max_rank
                 FROM e JOIN r1 ON r1.node = e.v)
           GROUP BY node, register)
    SELECT node, CAST(0 AS INT) AS radius, register, max_rank
      FROM r0
    UNION ALL
    SELECT node, 1, register, max_rank FROM r1
    UNION ALL
    SELECT node, 2, register, max_rank FROM r2
    ORDER BY radius, node, register""")
def _q_hyperball(spark, sf_dir):
    """HyperBall neighborhood function over a planted per-block
    4-cycle (b->b+1->b+2->b+3->b): every register value is the
    portable md5 rank, every ball is exact at radius<=2, so the
    integer register table compares hash-exact against the oracle's
    2-round unrolled propagation."""
    edges = block_edges(spark, sf_dir, [(0, 1), (1, 2), (2, 3), (3, 0)])
    return (hyperball(edges, rounds=2, m=16)
            .orderBy("radius", "node", "register"))


# expected flattening emitted closed-form from the plant
@query("kg_rdf_lists", oracle="""
    WITH d AS (SELECT doc_id FROM documents
               WHERE doc_id % 10 = 0),
    el AS (SELECT doc_id,
                  unnest(generate_series(0, doc_id % 3)) AS i
           FROM d)
    SELECT 'https://example.org/res/doc/' || doc_id AS subj,
           'https://example.org/vocab/authorList' AS pred,
           CAST(i AS BIGINT) AS idx,
           'https://example.org/res/person/'
             || ((doc_id * 7 + i) % 50) AS member
    FROM el ORDER BY subj, idx""")
def _q_rdf_lists(spark, sf_dir):
    """RDF collection flattening over planted author lists (one list
    of length 1 + doc_id%3 per doc_id%10==0 document, cons cells
    list:{doc}:{i}): the operator walks the real rdf:rest chains;
    the oracle emits the expected positional rows closed-form."""
    d = (_read(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 10 == 0).select("doc_id"))
    did = F.col("doc_id")
    cell = F.format_string("https://example.org/list/%d/%d", did,
                           F.col("i"))
    nxt = F.format_string("https://example.org/list/%d/%d", did,
                          F.col("i") + 1)
    member = F.format_string("https://example.org/res/person/%d",
                             (did * 7 + F.col("i")) % 50)
    cells = d.select(
        "doc_id", (did % 3).alias("last"),
        F.explode(F.sequence(F.lit(0), did % 3)).alias("i"))
    firsts = cells.select(cell.alias("subj"),
                          F.lit(RDF_FIRST).alias("pred"),
                          member.alias("obj"))
    rests = cells.select(
        cell.alias("subj"), F.lit(RDF_REST).alias("pred"),
        F.when(F.col("i") < F.col("last"), nxt)
        .otherwise(F.lit(RDF_NIL)).alias("obj"))
    anchors = d.select(
        F.format_string("https://example.org/res/doc/%d", did)
        .alias("subj"),
        F.lit("https://example.org/vocab/authorList").alias("pred"),
        F.format_string("https://example.org/list/%d/0", did)
        .alias("obj"))
    triples = firsts.unionByName(rests).unionByName(anchors)
    return (rdf_list_flatten(triples, max_len=4)
            .orderBy("subj", "idx"))


# the closed-form OWL-RL delta: inverse, symmetric mirror,
# one transitive hop per planted chain
@query("kg_owl_entailed", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    inf AS (
      SELECT 'https://example.org/res/doc/' || (b + 2) AS subj,
             'https://example.org/vocab/hasPart' AS pred,
             'https://example.org/res/doc/' || b AS obj
      FROM blk
      UNION ALL
      SELECT 'https://example.org/res/doc/' || (b + 1),
             'https://example.org/vocab/connected',
             'https://example.org/res/doc/' || b FROM blk
      UNION ALL
      SELECT 'https://example.org/res/doc/' || b,
             'https://example.org/vocab/ancestor',
             'https://example.org/res/doc/' || (b + 2) FROM blk)
    SELECT subj, pred, obj,
           'https://example.org/ctx' AS context
    FROM inf ORDER BY pred, subj""")
def _q_owl_entailed(spark, sf_dir):
    """OWL-RL property rules (inverseOf / symmetric / transitive)
    over planted per-block facts: partOf(b, b+2) mints
    hasPart(b+2, b); connected(b, b+1) mints its mirror;
    the ancestor chain b->b+1->b+2 closes with ancestor(b, b+2).
    inferred_only=True: the oracle emits the closed-form delta."""
    V = "https://example.org/vocab/"
    b = block_roots(spark, sf_dir)
    def _fact(pred, i, j):
        return b.select(
            F.format_string("https://example.org/res/doc/%d",
                            F.col("b") + i).alias("subj"),
            F.lit(V + pred).alias("pred"),
            F.format_string("https://example.org/res/doc/%d",
                            F.col("b") + j).alias("obj"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit("https://example.org/ctx").alias("context"))
    facts = (_fact("partOf", 0, 2)
             .unionByName(_fact("connected", 0, 1))
             .unionByName(_fact("ancestor", 0, 1))
             .unionByName(_fact("ancestor", 1, 2)))
    onto = spark.createDataFrame(
        [(V + "partOf", OWL_INVERSEOF, V + "hasPart"),
         (V + "connected", vocab.RDF_TYPE, OWL + "SymmetricProperty"),
         (V + "ancestor", vocab.RDF_TYPE, OWL + "TransitiveProperty")],
        "subj string, pred string, obj string")
    return (owl_entailment(facts, onto, inferred_only=True)
            .select("subj", "pred", "obj", "context")
            .orderBy("pred", "subj"))


# closed-form: 3-cycle -> max member (base+2), tails singleton
@query("kg_scc_labels", oracle="""
    WITH lim AS (SELECT (COUNT(*) // 5) * 5 AS v FROM documents)
    SELECT doc_id AS node,
           CASE WHEN doc_id % 5 <= 2
                THEN doc_id - (doc_id % 5) + 2
                ELSE doc_id END AS scc
    FROM documents, lim WHERE doc_id < lim.v ORDER BY node""")
def _q_scc_labels(spark, sf_dir):
    """Distributed coloring SCC over the planted cycle+tail groups:
    cycle members label to the max cycle id (base+2), tail nodes are
    singleton SCCs."""
    return (scc_labels(_scc_edges(spark, sf_dir))
            .orderBy("node"))


# tie on SCC size 3 -> smallest scc id (group 0) is CORE; its
# tail is OUT; no node reaches into a cycle, so the rest is
# OTHER
@query("kg_bowtie_classes", oracle="""
    WITH lim AS (SELECT (COUNT(*) // 5) * 5 AS v FROM documents)
    SELECT doc_id AS node,
           CASE WHEN doc_id <= 2 THEN 'CORE'
                WHEN doc_id IN (3, 4) THEN 'OUT'
                ELSE 'OTHER' END AS cls
    FROM documents, lim WHERE doc_id < lim.v ORDER BY node""")
def _q_bowtie_classes(spark, sf_dir):
    """Broder bow-tie over the same graph: all SCCs tie at size 3 so
    the smallest scc id (node 2, group 0) is CORE; its tail (3, 4)
    is OUT; every other group is OTHER (nothing reaches into a
    cycle)."""
    e = _scc_edges(spark, sf_dir)
    return bowtie_classes(e, scc_labels(e)).orderBy("node")


# distinct class assertions, inner subject join + left object
# join (literals fold), vocabulary-sized group
@query("kg_schema_graph", oracle=_ALL_TRIPLES_WITH + """,
    types AS (SELECT DISTINCT subj AS e, obj AS cls
              FROM all_triples
              WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
    rel AS (SELECT DISTINCT subj AS s, pred, obj AS o
            FROM all_triples
            WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
    SELECT st.cls AS subj_cls, rel.pred,
           COALESCE(ot.cls, '<literal>') AS obj_cls,
           CAST(COUNT(*) AS BIGINT) AS n_triples
    FROM rel
    JOIN types st ON st.e = rel.s
    LEFT JOIN types ot ON ot.e = rel.o
    GROUP BY st.cls, rel.pred, COALESCE(ot.cls, '<literal>')
    ORDER BY subj_cls, pred, obj_cls""")
def _q_schema_graph(spark, sf_dir):
    """ABSTAT-style schema graph of the REAL extracted KG: distinct
    (subject class, predicate, object class) signatures with triple
    counts, literals folded to <literal>; the oracle replays the
    distinct/two-join/groupBy program over the triple CTEs."""
    return (schema_graph(_triples(spark, sf_dir))
            .orderBy("subj_cls", "pred", "obj_cls"))


# component-expanded L1 scores over the closed-form integer
# embeddings; rank = 1 + #better (entity-string tie-break)
@query("kg_transe_eval", oracle="""
    WITH ids AS (SELECT DISTINCT doc_id % 50 AS i
                 FROM documents),
    test AS (SELECT DISTINCT doc_id % 50 AS hi,
                    doc_id % 3 AS rj,
                    (doc_id * 2 + 1) % 50 AS ti
             FROM documents),
    t2 AS (SELECT hi, rj, ti,
           hi % 7 + rj AS g1, hi % 11 + rj + 1 AS g2,
           hi % 13 + 2 * rj AS g3, hi % 17 + 3 - rj AS g4
           FROM test),
    sc AS (SELECT t2.*, c.i AS ci,
           abs(c.i % 7 - g1) + abs(c.i % 11 - g2)
             + abs(c.i % 13 - g3) + abs(c.i % 17 - g4)
             AS cand_score,
           abs(ti % 7 - g1) + abs(ti % 11 - g2)
             + abs(ti % 13 - g3) + abs(ti % 17 - g4)
             AS true_score
           FROM t2, ids c),
    r AS (SELECT 'e' || hi AS subj, 'r' || rj AS pred,
          'e' || ti AS obj,
          CAST(MAX(true_score) AS BIGINT) AS true_score,
          CAST(1 + SUM(CASE WHEN cand_score < true_score
                   OR (cand_score = true_score
                       AND 'e' || ci < 'e' || ti)
                   THEN 1 ELSE 0 END) AS BIGINT) AS "rank"
          FROM sc GROUP BY hi, rj, ti)
    SELECT subj, pred, obj, true_score, "rank",
           "rank" <= 10 AS hit_at_k,
           1.0 / "rank" AS reciprocal_rank
    FROM r ORDER BY subj, pred, obj""")
def _q_transe_eval(spark, sf_dir):
    """TransE link-prediction ranking over closed-form INTEGER
    embeddings (entity i -> [i%7, i%11, i%13, i%17]; relation j ->
    [j, j+1, 2j, 3-j]) and planted test triples (e(i), r(i%3),
    e((2i+1)%50)); the oracle expands the 4 components and replays
    the L1 scores, tie-broken ranks, hit@10, and reciprocal ranks."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ids = d.select((did % 50).alias("i")).distinct()
    i = F.col("i")
    ent = ids.select(
        F.format_string("e%d", i).alias("entity"),
        F.array((i % 7).cast("long"), (i % 11).cast("long"),
                (i % 13).cast("long"), (i % 17).cast("long"))
        .alias("vec"))
    rel = spark.createDataFrame(
        [("r%d" % j, [j, j + 1, 2 * j, 3 - j]) for j in range(3)],
        "relation string, vec array<long>")
    test = d.select(
        F.format_string("e%d", did % 50).alias("subj"),
        F.format_string("r%d", did % 3).alias("pred"),
        F.format_string("e%d", (did * 2 + 1) % 50).alias("obj")
    ).distinct()
    return (transe_rank(test, ent, rel, k=10)
            .orderBy("subj", "pred", "obj"))


# modularity of the 4-round label-prop partition: unrolled
# rounds, then exact-integer e_c / D_c / m counters
@query("kg_modularity", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e0 AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b + 1, b + 2 FROM blk
      UNION ALL SELECT b, b + 2 FROM blk
      UNION ALL SELECT b + 2, b + 5 FROM blk
      UNION ALL SELECT b + 5, b + 6 FROM blk
      UNION ALL SELECT b + 6, b + 7 FROM blk
      UNION ALL SELECT b + 5, b + 7 FROM blk),
    und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
    c1 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l0 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l1 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c1) t WHERE c = mx GROUP BY node),
    c2 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l1 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l2 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c2) t WHERE c = mx GROUP BY node),
    c3 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l2 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l3 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c3) t WHERE c = mx GROUP BY node),
    c4 AS (SELECT und.u AS node, l.lbl, COUNT(*) AS c
           FROM und JOIN l3 l ON und.v = l.node
           GROUP BY und.u, l.lbl),
    l4 AS (SELECT node, MIN(lbl) AS lbl FROM
            (SELECT node, lbl, c,
                    MAX(c) OVER (PARTITION BY node) AS mx
             FROM c4) t WHERE c = mx GROUP BY node),
    und2 AS (SELECT DISTINCT least(u, v) AS u,
                    greatest(u, v) AS v
             FROM e0 WHERE u <> v),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und2),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
            (SELECT u AS n FROM und2
             UNION ALL SELECT v FROM und2) GROUP BY 1),
    dc AS (SELECT l4.lbl AS community,
                  CAST(COUNT(*) AS BIGINT) AS n_nodes,
                  CAST(SUM(deg.d) AS BIGINT) AS deg_sum
           FROM deg JOIN l4 ON l4.node = deg.n GROUP BY 1),
    ec AS (SELECT a.lbl AS community,
                  CAST(COUNT(*) AS BIGINT) AS e_intra
           FROM und2 JOIN l4 a ON a.node = und2.u
                     JOIN l4 b ON b.node = und2.v
           WHERE a.lbl = b.lbl GROUP BY 1)
    SELECT dc.community, dc.n_nodes, dc.deg_sum,
           CAST(COALESCE(ec.e_intra, 0) AS BIGINT) AS e_intra,
           round(CAST(COALESCE(ec.e_intra, 0) AS DOUBLE)
                   / mm.m
                 - (CAST(dc.deg_sum AS DOUBLE)
                    / (2.0 * mm.m))
                   * (CAST(dc.deg_sum AS DOUBLE)
                      / (2.0 * mm.m)), 6) AS q_contrib
    FROM dc LEFT JOIN ec USING (community) CROSS JOIN mm
    ORDER BY dc.community""")
def _q_kg_modularity(spark, sf_dir):
    """Newman modularity of the 4-round label-propagation partition
    over the planted two-community graph (same structure as
    kg_label_prop); the oracle unrolls the same 4 rounds and replays
    the exact-integer e_c / D_c / m counters."""
    edges = block_edges(spark, sf_dir, _TWO_TRIANGLES)
    comms = label_propagation(edges, rounds=4)
    return modularity(edges, comms).orderBy("community")


# 1-WL: degree init, 3 unrolled md5(own|sorted-neighbors)
# rounds over the planted triangle+chain+edge blocks
@query("kg_wl_colors", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    e0 AS (
      SELECT b AS u, b + 1 AS v FROM blk
      UNION ALL SELECT b + 1, b + 2 FROM blk
      UNION ALL SELECT b, b + 2 FROM blk
      UNION ALL SELECT b + 2, b + 3 FROM blk
      UNION ALL SELECT b + 3, b + 4 FROM blk
      UNION ALL SELECT b + 4, b + 5 FROM blk
      UNION ALL SELECT b + 6, b + 7 FROM blk),
    und AS (SELECT DISTINCT least(u, v) AS u,
                   greatest(u, v) AS v
            FROM e0 WHERE u <> v),
    sym AS (SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v, u FROM und),
    c0 AS (SELECT a AS node, CAST(COUNT(*) AS VARCHAR) AS c
           FROM sym GROUP BY 1),
    n1 AS (SELECT sym.a AS node,
                  array_to_string(list_sort(list(c0.c)), ',')
                    AS ns
           FROM sym JOIN c0 ON c0.node = sym.b GROUP BY 1),
    c1 AS (SELECT c0.node, md5(c0.c || '|' || n1.ns) AS c
           FROM c0 JOIN n1 USING (node)),
    n2 AS (SELECT sym.a AS node,
                  array_to_string(list_sort(list(c1.c)), ',')
                    AS ns
           FROM sym JOIN c1 ON c1.node = sym.b GROUP BY 1),
    c2 AS (SELECT c1.node, md5(c1.c || '|' || n2.ns) AS c
           FROM c1 JOIN n2 USING (node)),
    n3 AS (SELECT sym.a AS node,
                  array_to_string(list_sort(list(c2.c)), ',')
                    AS ns
           FROM sym JOIN c2 ON c2.node = sym.b GROUP BY 1),
    c3 AS (SELECT c2.node, md5(c2.c || '|' || n3.ns) AS c
           FROM c2 JOIN n3 USING (node))
    SELECT node, c AS wl_color FROM c3 ORDER BY node""")
def _q_kg_wl_colors(spark, sf_dir):
    """1-WL color refinement over the planted triangle+chain+edge
    blocks (structural node fingerprints: triangle corners, chain
    links, pendant and isolated-edge endpoints all separate); the
    oracle unrolls the same 3 md5-of-sorted-neighbor-colors rounds."""
    edges = block_edges(spark, sf_dir, _TRIANGLE_CHAIN_EDGE)
    return wl_colors(edges, rounds=3).orderBy("node")


# Brandes betweenness: closed-form truth of the planted block
# (triangle 0-1-2, chain 2-3-4-5, isolated edge 6-7) — the
# bridge corners carry 6 pair dependencies, the chain link 4
@query("kg_betweenness", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    truth(o, val) AS (VALUES
      (0, 0.0), (1, 0.0), (2, 6.0), (3, 6.0),
      (4, 4.0), (5, 0.0), (6, 0.0), (7, 0.0))
    SELECT blk.b + truth.o AS node, truth.val AS betweenness
    FROM blk CROSS JOIN truth
    ORDER BY node""")
def _q_kg_betweenness(spark, sf_dir):
    """Exact Brandes betweenness over the planted triangle+chain+edge
    blocks (all nodes as sources; components are 8 nodes, so exact is
    sane).  The oracle is the CLOSED-FORM truth of the block
    structure — per offset: bridge corners 2 and 3 carry 6 pair
    dependencies each, chain link 4 carries 4, everything else 0
    (networkx betweenness_centrality(normalized=False) parity,
    asserted in tests)."""
    edges = block_edges(spark, sf_dir, _TRIANGLE_CHAIN_EDGE)
    return betweenness(edges).orderBy("node")


# 3-truss closed form: only the planted triangle's edges
# survive support peeling, each with support 1
@query("kg_ktruss", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    truth(i, j, s) AS (VALUES (0, 1, 1), (0, 2, 1), (1, 2, 1))
    SELECT blk.b + truth.i AS node_a,
           blk.b + truth.j AS node_b,
           CAST(truth.s AS BIGINT) AS support
    FROM blk CROSS JOIN truth
    ORDER BY node_a, node_b""")
def _q_kg_ktruss(spark, sf_dir):
    """3-truss of the planted triangle+chain+edge blocks: only the
    triangle's three edges survive the support-peeling fixpoint (each
    supported by exactly one triangle); chains and the isolated edge
    vanish.  The oracle is the closed-form truth (networkx
    k_truss(G, 3) parity, asserted in tests)."""
    edges = block_edges(spark, sf_dir, _TRIANGLE_CHAIN_EDGE)
    return ktruss(edges, k=3).orderBy("node_a", "node_b")


# harmonic centrality on the closed-form citation graph:
# d(s, n) = ceil((n-s)/2) = (n-s+1) // 2 for 1 <= n-s <= 6
@query("kg_harmonic_centrality", oracle="""
    WITH seeds AS (
      SELECT doc_id AS s FROM documents WHERE doc_id % 100 = 0),
    nodes AS (
      SELECT DISTINCT n FROM (
        SELECT doc_id AS n FROM documents
        UNION SELECT doc_id + 1 FROM documents
        UNION SELECT doc_id + 2 FROM documents)),
    r AS (
      SELECT n, (n - s + 1) // 2 AS d
      FROM nodes JOIN seeds ON n - s BETWEEN 1 AND 6)
    SELECT CAST(n AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_seeds_reaching,
           round(SUM(1.0 / d), 6) AS harmonic
    FROM r GROUP BY n ORDER BY node""")
def _q_kg_harmonic_centrality(spark, sf_dir):
    """Sampled harmonic centrality over the citation graph (edges
    d -> d+1 / d -> d+2, seeds every 100th doc, 3 hops): labeled
    all-seeds-simultaneous BFS, then sum(1/d) per node.  Oracle:
    d(s, n) = ceil((n-s)/2) closed-form for 1 <= n-s <= 6."""
    d = _read(spark, sf_dir, "documents")
    e1 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 1).alias("doc_b"))
    e2 = d.select(F.col("doc_id").alias("doc_a"),
                  (F.col("doc_id") + 2).alias("doc_b"))
    seeds = (d.where(F.col("doc_id") % 100 == 0)
             .select(F.col("doc_id").alias("node")))
    return (harmonic_centrality(e1.unionByName(e2), seeds, max_hops=3)
            .orderBy("node"))


@query("kg_clustering_coeff", oracle="""
    WITH raw AS (
      SELECT 'e' || (doc_id % 50) AS x, 't' || (doc_id % 11) AS y
      FROM documents
      UNION ALL
      SELECT 't' || (doc_id % 11), 'p' || (doc_id % 7)
      FROM documents
      UNION ALL
      SELECT 'e' || (doc_id % 50), 'p' || (doc_id % 7)
      FROM documents),
    e AS (
      SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
      FROM raw WHERE x <> y),
    adj AS (SELECT a AS u, b AS v FROM e
            UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM adj GROUP BY u),
    tri AS (
      SELECT a1.u AS node
      FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
      JOIN e ON e.a = a1.v AND e.b = a2.v),
    tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t
           FROM tri GROUP BY node)
    SELECT deg.node, deg.degree,
           COALESCE(tc.t, 0) AS triangles,
           CAST(CASE WHEN deg.degree > 1
                THEN 2000 * COALESCE(tc.t, 0)
                     // (deg.degree * (deg.degree - 1))
                ELSE 0 END AS BIGINT) AS coeff_permille
    FROM deg LEFT JOIN tc USING (node)
    ORDER BY node""")
def _q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient over the planted entity/topic/
    publisher tripartite graph: every doc closes an (entity, topic,
    publisher) triangle, so community structure is dense and the
    closed-form oracle replays degree/triangle counts exactly.
    All-integer coeff (permille, integer div) -> hash-exact."""
    d = _read(spark, sf_dir, "documents")
    e = F.concat(F.lit("e"), (F.col("doc_id") % 50).cast("string"))
    t = F.concat(F.lit("t"), (F.col("doc_id") % 11).cast("string"))
    p = F.concat(F.lit("p"), (F.col("doc_id") % 7).cast("string"))
    edges = (d.select(e.alias("node_a"), t.alias("node_b"))
             .unionByName(d.select(t.alias("node_a"), p.alias("node_b")))
             .unionByName(d.select(e.alias("node_a"), p.alias("node_b"))))
    return clustering_coefficient(edges).orderBy("node")


@query("kg_h_index", oracle="WITH " + _F_CTE + ", " + _MENTION_TRIPLES + r""",
    cc AS (SELECT obj, CAST(COUNT(*) AS BIGINT) AS score
           FROM mention_triples GROUP BY obj),
    g AS (SELECT 'series' ||
                 (CAST(regexp_extract(obj, 'rfc/(\d+)', 1)
                       AS BIGINT) % 10) AS series, score
          FROM cc),
    ranked AS (
      SELECT series, score,
             row_number() OVER (PARTITION BY series
                                ORDER BY score DESC) AS rank
      FROM g)
    SELECT series,
           CAST(MAX(LEAST(rank, score)) AS BIGINT) AS h_index,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM ranked GROUP BY series ORDER BY series""")
def _q_kg_h_index(spark, sf_dir):
    """Per-series h-index over received-citation counts: cited RFC
    targets bucketed into 10 series by number, score = total
    mentions.  One window rank per series + one aggregate; the
    oracle replays rank/least/max on the same integer counts."""
    cc = citation_counts(_triples(spark, sf_dir))
    items = cc.select(
        F.concat(F.lit("series"),
                 (F.regexp_extract("target_uri", r"rfc/(\d+)", 1)
                  .cast("long") % 10).cast("string")).alias("series"),
        F.col("n_mentions").alias("score"))
    return (h_index(items, group_col="series", score_col="score")
            .withColumnRenamed("group", "series")
            .orderBy("series"))


@query("kg_reciprocity", oracle="""
    WITH raw AS (
      SELECT 'e' || (doc_id % 50) AS src,
             'e' || ((doc_id * 3 + 1) % 50) AS dst
      FROM documents
      UNION ALL
      SELECT 'e' || (doc_id % 50),
             'e' || ((doc_id * 7 + 3) % 50)
      FROM documents),
    e AS (SELECT DISTINCT src AS a, dst AS b FROM raw
          WHERE src <> dst),
    j AS (
      SELECT e.a, e.b,
             CASE WHEN r.a IS NULL THEN 0 ELSE 1 END AS rec
      FROM e LEFT JOIN e r ON r.a = e.b AND r.b = e.a)
    SELECT a AS node,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(rec) AS BIGINT) AS n_reciprocated,
           CAST(1000 * SUM(rec) // COUNT(*) AS BIGINT)
             AS reciprocity_permille
    FROM j GROUP BY a ORDER BY node""")
def _q_kg_reciprocity(spark, sf_dir):
    """Directed-entity-graph reciprocity: each doc plants out-edges
    e(d%50) -> e((3d+1)%50) and e(d%50) -> e((7d+3)%50); mutual
    pairs arise closed-form from the modular algebra and the oracle
    replays the same construction declaratively."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    a = F.concat(F.lit("e"), (did % 50).cast("string"))
    b1 = F.concat(F.lit("e"), ((did * 3 + 1) % 50).cast("string"))
    b2 = F.concat(F.lit("e"), ((did * 7 + 3) % 50).cast("string"))
    edges = (d.select(a.alias("src"), b1.alias("dst"))
             .unionByName(d.select(a.alias("src"), b2.alias("dst"))))
    return reciprocity(edges).orderBy("node")


@query("kg_katz", oracle="""
    WITH e AS (
      SELECT 'e' || (doc_id % 50) AS u,
             'e' || ((doc_id * 3 + 1) % 50) AS v
      FROM documents
      UNION ALL
      SELECT 'e' || (doc_id % 50),
             'e' || ((doc_id * 7 + 3) % 50)
      FROM documents),
    n AS (SELECT DISTINCT u AS node FROM e
          UNION SELECT DISTINCT v FROM e),
    m0 AS (SELECT node, CAST(1000000 AS BIGINT) AS m FROM n),
    m1 AS (SELECT v AS node, CAST(SUM(m // 2) AS BIGINT) AS m
           FROM e JOIN m0 ON m0.node = e.u GROUP BY v),
    m2 AS (SELECT v AS node, CAST(SUM(m // 2) AS BIGINT) AS m
           FROM e JOIN m1 ON m1.node = e.u GROUP BY v),
    m3 AS (SELECT v AS node, CAST(SUM(m // 2) AS BIGINT) AS m
           FROM e JOIN m2 ON m2.node = e.u GROUP BY v)
    SELECT n.node,
           CAST(1000000 + COALESCE(m1.m, 0)
                + COALESCE(m2.m, 0) + COALESCE(m3.m, 0)
                AS BIGINT) AS katz_micro,
           CAST(3 AS BIGINT) AS n_rounds
    FROM n LEFT JOIN m1 USING (node)
           LEFT JOIN m2 USING (node)
           LEFT JOIN m3 USING (node)
    ORDER BY node""")
def _q_kg_katz(spark, sf_dir):
    """Katz centrality (integer halving attenuation, 3 rounds) over
    the planted directed entity multigraph; the oracle replays the
    three join/aggregate rounds exactly."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    a = F.concat(F.lit("e"), (did % 50).cast("string"))
    b1 = F.concat(F.lit("e"), ((did * 3 + 1) % 50).cast("string"))
    b2 = F.concat(F.lit("e"), ((did * 7 + 3) % 50).cast("string"))
    edges = (d.select(a.alias("src"), b1.alias("dst"))
             .unionByName(d.select(a.alias("src"), b2.alias("dst"))))
    return katz_centrality(edges, rounds=3).orderBy("node")


@query("kg_conductance", oracle="""
    WITH e0 AS (
      SELECT doc_id AS x, doc_id + 1 AS y FROM documents
      WHERE doc_id % 10 <> 9
      UNION ALL
      SELECT doc_id, doc_id - 10 FROM documents
      WHERE doc_id % 10 = 5 AND doc_id >= 10),
    und AS (SELECT DISTINCT least(x, y) AS u,
                   greatest(x, y) AS v
            FROM e0 WHERE x <> y),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT u AS n FROM und
              UNION ALL SELECT v FROM und) GROUP BY n),
    asg AS (SELECT doc_id AS n, doc_id // 10 AS community
            FROM documents),
    m2 AS (SELECT 2 * COUNT(*) AS m2 FROM und),
    vol AS (SELECT community,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(COALESCE(d, 0)) AS BIGINT)
                     AS volume
            FROM asg LEFT JOIN deg USING (n)
            GROUP BY community),
    xe AS (SELECT au.community AS ca, av.community AS cb
           FROM und JOIN asg au ON und.u = au.n
                    JOIN asg av ON und.v = av.n
           WHERE au.community <> av.community),
    cut AS (SELECT community,
                   CAST(COUNT(*) AS BIGINT) AS cut_edges
            FROM (SELECT ca AS community FROM xe
                  UNION ALL SELECT cb FROM xe)
            GROUP BY community)
    SELECT vol.community, n_nodes, volume,
           CAST(COALESCE(cut_edges, 0) AS BIGINT) AS cut_edges,
           CASE WHEN least(volume, m2.m2 - volume) > 0
                THEN CAST(COALESCE(cut_edges, 0) * 1000
                     // least(volume, m2.m2 - volume)
                     AS BIGINT) END AS conductance_permille
    FROM vol LEFT JOIN cut USING (community), m2
    ORDER BY vol.community""")
def _q_kg_conductance(spark, sf_dir):
    """Conductance per community over a planted block graph (blocks
    of 10 chained nodes, one bridge per adjacent block pair):
    interior blocks report cut=2, vol=20, phi=100 permille; the two
    end blocks differ — the NCP-style cluster-quality dual of
    kg_modularity."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    chain = (d.where(did % 10 != 9)
             .select(did.alias("doc_a"), (did + 1).alias("doc_b")))
    bridge = (d.where((did % 10 == 5) & (did >= 10))
              .select(did.alias("doc_a"), (did - 10).alias("doc_b")))
    comms = d.select(did.alias("node"),
                     F.expr("doc_id div 10").alias("label"))
    return (conductance(chain.unionByName(bridge), comms)
            .orderBy("community"))


# unique MSF of the planted cycle family, stated closed-form:
# complete 8-cycles lose their max-weight edge, paths keep all
@query("kg_boruvka_msf", oracle="""
    WITH e AS (
      SELECT doc_id AS src, doc_id + 1 AS dst,
             ((doc_id * 37) % 997) * 10000 + doc_id AS weight,
             doc_id // 8 AS blk
      FROM documents WHERE doc_id % 8 <> 7
      UNION ALL
      SELECT doc_id, doc_id - 7,
             ((doc_id * 37) % 997) * 10000 + doc_id,
             doc_id // 8
      FROM documents WHERE doc_id % 8 = 7),
    m AS (SELECT *, COUNT(*) OVER (PARTITION BY blk) AS n_e,
                 MAX(weight) OVER (PARTITION BY blk) AS w_max
          FROM e)
    SELECT CAST(least(src, dst) AS BIGINT) AS src,
           CAST(greatest(src, dst) AS BIGINT) AS dst,
           CAST(weight AS BIGINT) AS weight
    FROM m WHERE n_e < 8 OR weight <> w_max
    ORDER BY src, dst""")
def _q_kg_boruvka_msf(spark, sf_dir):
    """Boruvka minimum spanning forest over planted 8-cycles (one
    per doc block, globally distinct weights, the trailing partial
    block is a path): the unique MSF is every cycle minus its
    heaviest edge — which the oracle states closed-form while the
    operator runs the general fixpoint."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    w = (((did * 37) % 997) * 10000 + did).alias("weight")
    chain = d.where(did % 8 != 7).select(
        did.alias("src"), (did + 1).alias("dst"), w)
    close = d.where(did % 8 == 7).select(
        did.alias("src"), (did - 7).alias("dst"), w)
    return (boruvka_msf(chain.unionByName(close))
            .orderBy("src", "dst"))


@query("kg_graph_coloring", oracle=_coloring_sql(8))
def _q_kg_graph_coloring(spark, sf_dir):
    """Priority-round greedy coloring over planted 8-vertex paths:
    rounds=8 guarantees completion (worst case one vertex per round
    along a monotone chain); properness is structural (each round
    selects an independent set)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    edges = d.where(did % 8 != 7).select(did.alias("src"),
                                         (did + 1).alias("dst"))
    return greedy_coloring(edges, rounds=8).orderBy("node")


# SALSA closed form over the planted biclique + pair blocks
@query("kg_salsa", oracle="""
    WITH blk AS (SELECT doc_id AS b FROM documents
                 WHERE doc_id % 20 = 0),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nblocks
           FROM blk),
    rows_ AS (
      -- biclique hubs b, b+1: degree 2, comp 2b, n_comp 2,
      -- deg_comp 4; biclique authorities b+10, b+11: same
      -- with component 2b (min bipartite id)
      SELECT 'hub' AS side, b + 0 AS node,
             CAST(2 AS BIGINT) AS degree,
             2 * b AS component, CAST(2 AS BIGINT) AS n_comp,
             CAST(4 AS BIGINT) AS deg_comp FROM blk
      UNION ALL
      SELECT 'hub', b + 1, 2, 2 * b, 2, 4 FROM blk
      UNION ALL
      SELECT 'authority', b + 10, 2, 2 * b, 2, 4 FROM blk
      UNION ALL
      SELECT 'authority', b + 11, 2, 2 * b, 2, 4 FROM blk
      UNION ALL
      SELECT 'hub', b + 2, 1, 2 * b + 4, 1, 1 FROM blk
      UNION ALL
      SELECT 'authority', b + 12, 1, 2 * b + 4, 1, 1
      FROM blk)
    SELECT side, node, degree,
           CAST(component AS BIGINT) AS component,
           n_comp, deg_comp,
           CAST(n_comp * degree * 1000000
                // (3 * CAST(nblocks AS HUGEINT) * deg_comp)
             AS BIGINT) AS score_ppm
    FROM rows_, nb ORDER BY side, node""")
def _q_kg_salsa(spark, sf_dir):
    """SALSA degree-proportional link scores (graphs.salsa_scores):
    per 20-doc block a dense 2x2 hub-authority biclique plus a
    disjoint 1x1 pair — the oracle states components and the
    Lempel-Moran closed form directly from the planted structure."""
    edges = block_edges(spark, sf_dir, [(0, 10), (0, 11), (1, 10), (1, 11),
                                        (2, 12)]).toDF("src", "dst")
    return salsa_scores(edges).orderBy("side", "node")
