"""RDF-level ``kg_*`` queries: SPARQL, serializations, rules,
shapes, temporal facts and fusion."""

from pyspark.sql import functions as F

from ferenda_spark.operators.fusion import (fact_fusion, source_accuracy,
                                            truthfinder_sums)
from ferenda_spark.operators.rdfio import (bnode_canonicalize, graph_diff,
                                           parse_nquads, parse_turtle_docs,
                                           rdfstar_annotations)
from ferenda_spark.operators.rules import (mine_inverse_rules, mine_path_rules,
                                           mine_rules, rule_violations)
from ferenda_spark.operators.shapes import (RDF_TYPE, disjoint_violations,
                                            shacl_validate)
from ferenda_spark.operators.temporal import (asof_diff, coalesce_intervals,
                                              interval_conflicts)
from ferenda_spark.operators.triples import doc_triples
from ferenda_spark.registry import query
from ferenda_spark.registry.common import (_ALL_TRIPLES_WITH, _DOC_TRIPLES,
                                           _F_CTE, _MENTION_TRIPLES, _docs,
                                           _read, _source_weights, _triples)
from ferenda_spark.sparql import (construct_annotations, sparql_construct,
                                  sparql_describe, sparql_select,
                                  sparql_update)


def _claims(spark, sf_dir):
    """Conflicting entity-label claims planted on the documents table:
    every doc asserts a label for its entity (doc_id % 50); docs with
    doc_id % 3 == 0 assert the WRONG label ((e+1) % 7 instead of
    e % 7), so 20 sources vote with planted disagreement."""
    d = _read(spark, sf_dir, "documents")
    e = F.col("doc_id") % 50
    return d.select(
        F.concat(F.lit("https://example.org/res/entity/"), e)
        .alias("subject"),
        F.lit("rdfs:label").alias("predicate"),
        F.concat(F.lit("Label "),
                 F.when(F.col("doc_id") % 3 == 0, (e + 1) % 7)
                 .otherwise(e % 7)).alias("object"),
        F.col("source"))


def _shacl_input(spark, sf_dir):
    """Closed-form triple table + SHACL-lite shapes shared by the
    validation queries: every doc typed Document; title missing when
    doc_id%11==0 (minCount), a second issued when doc_id%13==0
    (maxCount), a non-numeric words value when doc_id%17==0
    (pattern)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    uri = F.format_string("https://example.org/res/doc/%d", did)
    cls = F.lit("https://example.org/vocab#Document")
    typ = d.select(uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                   cls.alias("obj"))
    title = (d.where(did % 11 != 0)
             .select(uri.alias("subj"),
                     F.lit("http://purl.org/dc/terms/title").alias("pred"),
                     F.format_string("Doc %d", did).alias("obj")))
    issued1 = d.select(uri.alias("subj"),
                       F.lit("http://purl.org/dc/terms/issued")
                       .alias("pred"), F.lit("2020-01-01").alias("obj"))
    issued2 = (d.where(did % 13 == 0)
               .select(uri.alias("subj"),
                       F.lit("http://purl.org/dc/terms/issued")
                       .alias("pred"), F.lit("2021-01-01").alias("obj")))
    words = d.select(
        uri.alias("subj"),
        F.lit("https://example.org/vocab#words").alias("pred"),
        F.when(did % 17 == 0, F.lit("NaN"))
        .otherwise((did % 1000).cast("string")).alias("obj"))
    triples = (typ.unionByName(title).unionByName(issued1)
               .unionByName(issued2).unionByName(words))
    shapes = spark.createDataFrame(
        [("s_title", "https://example.org/vocab#Document",
          "http://purl.org/dc/terms/title", 1, 1, None),
         ("s_issued", "https://example.org/vocab#Document",
          "http://purl.org/dc/terms/issued", 1, 1, None),
         ("s_words", "https://example.org/vocab#Document",
          "https://example.org/vocab#words", 0, None, "^[0-9]+$")],
        "shape_id string, target_class string, path string, "
        "min_count int, max_count int, pattern string")
    return triples, shapes


def _rules_triples(spark, sf_dir):
    """Closed-form KG for rule mining: every doc (e_i, likes, v_i);
    buys on the same pair unless doc_id%17==0; a decoy buys fact on a
    different object (w_i) when doc_id%17==0 and doc_id%2==0 (so the
    PCA denominator differs from CWA); views when doc_id%5<2."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    s = F.format_string("e%d", did)
    o = F.format_string("v%d", did)
    likes = d.select(s.alias("subj"), F.lit("likes").alias("pred"),
                     o.alias("obj"))
    buys = (d.where(did % 17 != 0)
            .select(s.alias("subj"), F.lit("buys").alias("pred"),
                    o.alias("obj")))
    decoy = (d.where((did % 17 == 0) & (did % 2 == 0))
             .select(s.alias("subj"), F.lit("buys").alias("pred"),
                     F.format_string("w%d", did).alias("obj")))
    views = (d.where(did % 5 < 2)
             .select(s.alias("subj"), F.lit("views").alias("pred"),
                     o.alias("obj")))
    return (likes.unionByName(buys).unionByName(decoy)
            .unionByName(views))


def _kg_diff_side(d, new: bool):
    did = F.col("doc_id")
    doc = F.concat(F.lit("https://example.org/res/doc/"),
                   did.cast("string"))
    title = F.concat(F.lit("Document "), did.cast("string"),
                     F.when(F.lit(new) & (did % 7 == 0),
                            F.lit(" v2")).otherwise(F.lit("")))
    t = (d.select(doc.alias("subj"), F.lit("dct:title").alias("pred"),
                  title.alias("obj"))
         .unionByName(d.select(
             doc.alias("subj"), F.lit("dct:publisher").alias("pred"),
             F.concat(F.lit("pub"), (did % 7).cast("string"))
             .alias("obj"))))
    subj_rows = d.where(~(F.lit(new) & (did % 13 == 0))).select(
        doc.alias("subj"), F.lit("dct:subject").alias("pred"),
        F.concat(F.lit("topic"), (did % 11).cast("string"))
        .alias("obj"))
    t = t.unionByName(subj_rows)
    if new:
        t = t.unionByName(d.where(did % 11 == 0).select(
            doc.alias("subj"), F.lit("dct:note").alias("pred"),
            F.lit("updated").alias("obj")))
    return t


def _employer_facts(spark, sf_dir):
    """Planted temporal employer facts (shared by
    kg_interval_conflicts and kg_asof_diff)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    return d.select(
        F.concat(F.lit("https://example.org/res/entity/"),
                 (did % 50).cast("string")).alias("subject"),
        F.lit("org:employer").alias("predicate"),
        F.concat(F.lit("https://example.org/res/org/pub"),
                 (did % 7).cast("string")).alias("object"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   ((did * 37) % 1461).cast("int")).alias("valid_from"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   (((did * 37) % 1461) + 60 + (did % 5) * 45)
                   .cast("int")).alias("valid_to"))


# shared CTE for the knowledge-fusion oracles (mirrors _claims /
# _source_weights / operators.fusion.fact_fusion)
_FUSION_CTE = """
            WITH claims AS (
              SELECT 'https://example.org/res/entity/' || (doc_id % 50)
                       AS subject,
                     'rdfs:label' AS predicate,
                     'Label ' || (CASE WHEN doc_id % 3 = 0
                                  THEN (doc_id % 50 + 1) % 7
                                  ELSE (doc_id % 50) % 7 END) AS object,
                     source
              FROM documents),
            weights AS (
              SELECT 'src' || i AS source,
                     CAST(1 + i % 3 AS BIGINT) AS weight
              FROM (SELECT unnest(generate_series(0, 19)) AS i)),
            dclaims AS (
              SELECT DISTINCT subject, predicate, object, source
              FROM claims),
            scored AS (
              SELECT subject, predicate, object,
                     CAST(SUM(weight) AS BIGINT) AS support,
                     CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
              FROM dclaims JOIN weights USING (source)
              GROUP BY subject, predicate, object),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY subject, predicate
                       ORDER BY support DESC, object ASC) AS rk
              FROM scored)
"""


# The planted rule-mining KG (mirrors _rules_triples) plus the shared
# stages of the AMIE-lite replay: distinct triples, pair self-join
# support, per-predicate marginals, PCA subject join.
_RULES_KG_CTE = """
            d AS (SELECT doc_id, 'e' || doc_id AS s,
                         'v' || doc_id AS o FROM documents),
            raw AS (
              SELECT s AS subj, 'likes' AS pred, o AS obj FROM d
              UNION ALL
              SELECT s, 'buys', o FROM d WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT s, 'buys', 'w' || doc_id FROM d
              WHERE doc_id % 17 = 0 AND doc_id % 2 = 0
              UNION ALL
              SELECT s, 'views', o FROM d WHERE doc_id % 5 < 2),
            t AS (SELECT DISTINCT subj, pred, obj FROM raw),
            sup AS (SELECT b.pred AS body_pred, h.pred AS head_pred,
                           CAST(COUNT(*) AS BIGINT) AS support
                    FROM t b JOIN t h
                      ON b.subj = h.subj AND b.obj = h.obj
                    WHERE b.pred <> h.pred GROUP BY 1, 2),
            marg AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pairs
                     FROM t GROUP BY 1),
            hs AS (SELECT DISTINCT subj, pred AS head_pred FROM t),
            pca AS (SELECT b.pred AS body_pred, h.head_pred,
                           CAST(COUNT(*) AS BIGINT) AS n_pca_body
                    FROM t b JOIN hs h ON b.subj = h.subj
                    WHERE b.pred <> h.head_pred GROUP BY 1, 2)"""


@query("kg_sql_select", oracle="WITH " + _F_CTE + ", " + _MENTION_TRIPLES + """
    SELECT subj, obj FROM mention_triples""")
def _q_sql_select(spark, sf_dir):
    """Q12: SPARQL select through the pattern compiler
    (ferenda_spark.sparql; devel.py:618-682 -> triplestore.select)."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?subj ?obj WHERE { ?subj dcterms:references ?obj . }""")


@query("kg_sparql_bgp", oracle="WITH " + _F_CTE + """
    SELECT doc_uri AS doc, title, publisher_uri AS publisher
    FROM f""")
def _q_sparql_bgp(spark, sf_dir):
    """Q12 general BGP: 3-pattern join compiled to filtered scans +
    equi-joins on the shared ?doc variable."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc ?title ?publisher WHERE {
          ?doc a bibo:Document .
          ?doc dcterms:title ?title .
          ?doc dcterms:publisher ?publisher .
        }""")


@query("kg_sparql_optional", oracle="WITH " + _F_CTE + """
    SELECT doc_uri AS doc, sameas_uri AS same FROM f""")
def _q_sparql_optional(spark, sf_dir):
    """Q12 OPTIONAL: left-join semantics — docs without owl:sameAs
    keep a NULL ?same."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc ?same WHERE {
          ?doc a bibo:Document .
          OPTIONAL { ?doc owl:sameAs ?same }
        }""")


@query("kg_sparql_union", oracle="WITH " + _F_CTE + """
    SELECT doc_uri AS s, identifier AS o FROM f
    UNION ALL
    SELECT doc_uri, entity_uri FROM f""")
def _q_sparql_union(spark, sf_dir):
    """Q12 UNION: solutions of two disjoint branch patterns (bag
    semantics, unionByName-aligned columns)."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?s ?o WHERE {
          { ?s dcterms:identifier ?o . }
          UNION { ?s schema:mentions ?o . }
        }""")


@query("kg_sparql_construct", oracle="WITH " + _F_CTE + ", "
    + _MENTION_TRIPLES + """
    SELECT DISTINCT subj,
           'https://example.org/vocab/cites' AS pred, obj
    FROM mention_triples""")
def _q_sparql_construct(spark, sf_dir):
    """Q12 CONSTRUCT: template-emitted triples from WHERE bindings
    (triplestore.construct surface)."""
    return sparql_construct(_triples(spark, sf_dir), """
        CONSTRUCT { ?s <https://example.org/vocab/cites> ?o }
        WHERE { ?s dcterms:references ?o . }""")


@query("kg_sparql_filter", oracle="WITH " + _F_CTE + """
    SELECT doc_uri || '#S' || s AS part, CAST(s AS VARCHAR) AS sec
    FROM secs WHERE CAST(s AS VARCHAR) >= '2'""")
def _q_sparql_filter(spark, sf_dir):
    """Q12 FILTER: comparison + negated contains over section chapter
    labels."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?part ?sec WHERE {
          ?part bibo:chapter ?sec .
          FILTER(?sec >= "2" && !contains(?sec, "."))
        }""")


# isPartOf* closure per doc: zero-length (the doc itself) +
# sections + subsections — closed form of the synthetic part tree
@query("kg_sparql_path", oracle="WITH " + _F_CTE + """
    SELECT doc_uri AS part, doc_uri AS doc FROM f
    UNION ALL
    SELECT doc_uri || '#S' || s, doc_uri FROM secs
    UNION ALL
    SELECT doc_uri || '#S' || s || '.1', doc_uri FROM subs""")
def _q_sparql_path(spark, sf_dir):
    """Q12 property path: the annotations.rq `dcterms:isPartOf*`
    closure through the compiler — var-var zero-or-more path
    (semi-naive transitive closure + identity) joined against the
    document-typed subjects."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?part ?doc WHERE {
          ?doc a bibo:Document .
          ?part dcterms:isPartOf* ?doc .
        }""")


@query("kg_sparql_agg", oracle=_ALL_TRIPLES_WITH + """
    SELECT pred AS p, COUNT(*) AS n,
           COUNT(DISTINCT subj) AS subjects
    FROM all_triples GROUP BY pred""")
def _q_sparql_agg(spark, sf_dir):
    """Q12 aggregates: GROUP BY + COUNT(*)/COUNT(DISTINCT) compiled to
    a single map-side-partial groupBy (triplestore.py:138-173 select
    passthrough + :653-666 COUNT probes)."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?p (COUNT(*) AS ?n) (COUNT(DISTINCT ?s) AS ?subjects)
        WHERE { ?s ?p ?o } GROUP BY ?p""")


# parts per container: sections under docs (n_sections =
# 1 + doc_id % 3), subsections under sections (1 each) —
# HAVING > 2 keeps exactly the 3-section documents
@query("kg_sparql_having", oracle="WITH " + _F_CTE + """
    SELECT doc, COUNT(*) AS n_parts FROM (
      SELECT doc_uri AS doc FROM secs
      UNION ALL
      SELECT doc_uri || '#S' || s AS doc FROM subs
    ) GROUP BY doc HAVING COUNT(*) > 2""")
def _q_sparql_having(spark, sf_dir):
    """Q12 HAVING: the group filter's aggregate compiles to a hidden
    column of the SAME single-shuffle groupBy().agg() (no second
    aggregation pass), then a plain post-aggregation filter.  Groups
    parts per container; only 3-section documents survive — a
    structural (scale-independent) discriminator."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc (COUNT(?part) AS ?n_parts) WHERE {
          ?part dcterms:isPartOf ?doc .
        } GROUP BY ?doc HAVING (COUNT(?part) > 2)""")


@query("kg_sparql_bind_values", oracle="WITH " + _F_CTE + """
    SELECT doc_uri AS ref, subject, title FROM f
    WHERE subject IN ('topic1', 'topic4')
      AND (subject NOT IN ('topic4')
           OR title LIKE 'Document 1%')""")
def _q_sparql_bind_values(spark, sf_dir):
    """Q12 BIND + VALUES + NOT IN + STRSTARTS(STR()): the constructs
    the reference's own shipped queries use (rfc-annotations.rq:24
    BIND, sfs_changes.rq:14 STRSTARTS/IN).  VALUES compiles to a
    broadcast inline-data join; BIND is a projection; the disjunctive
    filter stays JVM-side."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?ref ?subject ?title WHERE {
          VALUES ?subject { "topic1" "topic4" }
          ?doc dcterms:subject ?subject .
          ?doc dcterms:title ?title .
          BIND(str(?doc) as ?ref)
          FILTER(?subject NOT IN ("topic4")
                 || STRSTARTS(STR(?title), "Document 1"))
        }""")


# annotations.rq for doc 0: its whole part closure is
# {doc, #S1, #S1.1} (n_sections(0)=1, (0+1)%2=1 -> subsection
# exists); nothing dcterms:references those parts (mention
# targets are res/rfc/ URIs), so the isReferencedBy template
# emits nothing
@query("kg_sparql_annotations", oracle=_ALL_TRIPLES_WITH + """
    SELECT DISTINCT subj, pred, obj FROM all_triples
    WHERE subj IN ('https://example.org/res/doc/0',
                   'https://example.org/res/doc/0#S1',
                   'https://example.org/res/doc/0#S1.1')""")
def _q_sparql_annotations(spark, sf_dir):
    """Q12/J3: the reference's shipped annotation CONSTRUCT
    (res/sparql/annotations.rq via construct_annotations,
    documentrepository.py:2594-2611) run end-to-end through the SPARQL
    compiler for document 0 — `isPartOf*` BFS + UNION + template
    emission with unbound-var skipping."""
    return construct_annotations(_triples(spark, sf_dir),
                                 "https://example.org/res/doc/0")


@query("kg_sparql_update", oracle=(
    "WITH " + _F_CTE + ", " + _DOC_TRIPLES + """,
    g AS (
      SELECT CASE WHEN pred = 'http://purl.org/dc/terms/subject'
                  THEN 'https://example.org/def/theme'
                  ELSE pred END AS pred
      FROM doc_triples
      UNION ALL
      SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
    SELECT pred, COUNT(*) AS n FROM g
    GROUP BY pred ORDER BY pred"""))
def _q_sparql_update(spark, sf_dir):
    """Q12 update passthrough: a chained UPDATE request (DELETE/INSERT
    predicate rename + INSERT DATA) applied to the doc-triples graph,
    verified by the per-predicate profile of the updated graph.  The
    whole rewrite is two anti-joins and a union — no whole-graph
    distinct."""
    t = doc_triples(_docs(spark, sf_dir))
    g = sparql_update(t, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        DELETE { ?d dcterms:subject ?s }
        INSERT { ?d <https://example.org/def/theme> ?s }
        WHERE { ?d dcterms:subject ?s } ;
        INSERT DATA {
          <https://example.org/res/org/pub0> a <http://xmlns.com/foaf/0.1/Organization>
        }""")
    return (g.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("pred"))


@query("kg_sparql_describe", oracle=(
    "WITH " + _F_CTE + ", " + _DOC_TRIPLES + """
    SELECT pred, COUNT(*) AS n FROM doc_triples
    WHERE CAST(regexp_extract(subj, '(\\d+)$', 1) AS BIGINT)
          % 7 = 0
    GROUP BY pred ORDER BY pred"""))
def _q_sparql_describe(spark, sf_dir):
    """Q12 DESCRIBE: concise bounded descriptions of every publisher
    resource mentioned with dcterms:publisher — variable form with a
    WHERE group, one broadcast semi-join (sparql.sparql_describe)."""
    t = doc_triples(_docs(spark, sf_dir))
    # describe the DOCUMENTS of publisher pub0 (bounded description =
    # their outgoing triples), aggregated per predicate
    d = sparql_describe(t, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        DESCRIBE ?d WHERE {
          ?d dcterms:publisher <https://example.org/res/org/pub0>
        }""")
    return (d.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("pred"))


@query("kg_sparql_subquery", oracle="WITH " + _F_CTE + """
    SELECT 'Document ' || doc_id AS title,
           CAST(7 + CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0
                    END AS BIGINT) AS n
    FROM f ORDER BY title""")
def _q_sparql_subquery(spark, sf_dir):
    """Q12 subquery: per-document outgoing-edge counts computed in an
    inner SELECT, joined to the outer title binding — the SPARQL
    shape of a correlated rollup, compiled to one groupBy + one
    natural join."""
    t = doc_triples(_docs(spark, sf_dir))
    return sparql_select(t, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        SELECT ?title ?n WHERE {
          ?d dcterms:title ?title .
          { SELECT ?d (COUNT(?o) AS ?n) WHERE {
              ?d !(rdf:type) ?o . } GROUP BY ?d }
        } ORDER BY ?title""")


# per named graph (= source url, one graph per doc): parts
# reaching the typed doc over isPartOf+ are its sections
# (1 hop) and subsections (2 hops); the graph's raw isPartOf
# edge count is the same set's cardinality (one edge per
# section and per subsection)
@query("kg_sparql_graph_var", oracle="WITH " + _F_CTE + """,
    parts AS (
      SELECT url AS g FROM secs
      UNION ALL
      SELECT url AS g FROM subs)
    SELECT g, COUNT(*) AS n_parts, COUNT(*) AS n_edges
    FROM parts GROUP BY g ORDER BY g""")
def _q_sparql_graph_var(spark, sf_dir):
    """Q12 GRAPH ?var with a property path AND a subquery inside the
    variable-graph scope (SPARQL 1.1 §13.3): per named graph (context
    = source url, one graph per document), the isPartOf+ closure to
    the graph's typed document counts its parts, while an inner
    SELECT counts the graph's raw isPartOf edges — the path fixpoint
    is keyed by graph id so closures never cross graph boundaries,
    and the subquery aggregates with the graph id as an implicit
    grouping key."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?g (COUNT(?part) AS ?n_parts) (MIN(?m) AS ?n_edges)
        WHERE {
          GRAPH ?g { ?doc a bibo:Document .
                     ?part dcterms:isPartOf+ ?doc }
          GRAPH ?g { SELECT (COUNT(?o) AS ?m) WHERE {
                       ?s dcterms:isPartOf ?o } }
        } GROUP BY ?g ORDER BY ?g""")


# the sources CASE mirrors SPARQL STRBEFORE exactly (missing
# needle -> ''), not split_part (missing needle -> whole
# string) — oracle must not lean on the corpus always
# containing '-'.
# STRENDS(ymd, SUBSTR(ymd, 5)) is a tautology by construction
# (a string always ends with its own tail) but exercises the
# column-argument endswith + 2-arg SUBSTR kernels; the length
# filter keeps docs with ids >= 10 (identifier 'srcN-id')
@query("kg_sparql_builtins", oracle="WITH " + _F_CTE + """
    SELECT subject,
           CASE WHEN sameas_uri IS NOT NULL
                THEN 'linked' ELSE 'orphan' END AS linkcls,
           COUNT(*) AS n_docs,
           string_agg(DISTINCT upper(CASE
                        WHEN strpos(identifier, '-') > 0
                        THEN substring(identifier, 1,
                             strpos(identifier, '-') - 1)
                        ELSE '' END),
                      '|' ORDER BY
                      upper(CASE
                        WHEN strpos(identifier, '-') > 0
                        THEN substring(identifier, 1,
                             strpos(identifier, '-') - 1)
                        ELSE '' END))
             AS sources,
           max(regexp_replace(issued, '-', '', 'g')) AS max_ymd,
           min((length(identifier) + 1) / 2) AS min_halflen
    FROM f
    WHERE length(identifier) * 2 - 2 >= 12
    GROUP BY 1, 2 ORDER BY 1, 2""")
def _q_sparql_builtins(spark, sf_dir):
    """Q12 SPARQL 1.1 §17.4 expression builtins (r4): GROUP_CONCAT
    with SEPARATOR + DISTINCT (values sorted — deterministic where the
    spec leaves order open), UCASE/STRBEFORE/REPLACE/STRLEN string
    kernels, arithmetic with xsd:double promotion, IF/BOUND
    conditionals, and a STRENDS/SUBSTR filter — every one a pure JVM
    Column expression (no Python), folded into ONE map-side-partial
    groupBy shuffle."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?subject ?linkcls (COUNT(?d) AS ?n_docs)
               (GROUP_CONCAT(DISTINCT ?src; SEPARATOR="|") AS ?sources)
               (MAX(?ymd) AS ?max_ymd) (MIN(?halflen) AS ?min_halflen)
        WHERE {
          ?d a bibo:Document .
          ?d dcterms:identifier ?ident .
          ?d dcterms:subject ?subject .
          ?d dcterms:issued ?issued .
          OPTIONAL { ?d owl:sameAs ?same }
          BIND(UCASE(STRBEFORE(?ident, "-")) AS ?src)
          BIND(REPLACE(?issued, "-", "") AS ?ymd)
          BIND(IF(BOUND(?same), "linked", "orphan") AS ?linkcls)
          BIND((STRLEN(?ident) + 1) / 2 AS ?halflen)
          FILTER(STRENDS(?ymd, SUBSTR(?ymd, 5))
                 && STRLEN(?ident) * 2 - 2 >= 12)
        } GROUP BY ?subject ?linkcls ORDER BY ?subject ?linkcls""")


# only sections carry bibo:chapter (subsections have titles
# but no chapter), so the BGP restricts to sections; their
# titles are 'Section <s>' (length 9 for one-digit s)
@query("kg_sparql_agg_expr", oracle="WITH " + _F_CTE + """
    SELECT doc_uri AS doc,
           SUM(s * 2.0 + 1) AS w,
           AVG(CAST(length('Section ' || s) AS DOUBLE))
             AS alen
    FROM secs GROUP BY doc_uri ORDER BY doc""")
def _q_sparql_agg_expr(spark, sf_dir):
    """Q12 aggregates over EXPRESSIONS (SPARQL 1.1 §18.5.1 allows any
    expression as the aggregate argument): SUM(?ch * 2 + 1) and
    AVG(STRLEN(?t)) compile to column expressions inside the same
    single-shuffle groupBy — no pre-BIND needed.  Sums stay exact
    (small integers in doubles), so no rounding is required for
    cross-engine parity."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?doc (SUM(?ch * 2 + 1) AS ?w)
               (AVG(STRLEN(?t)) AS ?alen)
        WHERE {
          ?doc a bibo:Document .
          ?part dcterms:isPartOf ?doc .
          ?part bibo:chapter ?ch .
          ?part dcterms:title ?t .
        } GROUP BY ?doc ORDER BY ?doc""")


@query("kg_sparql_hashes", oracle="WITH " + _F_CTE + """
    SELECT substring(sha256(identifier), 1, 1) AS nib,
           COUNT(*) AS n,
           min('urn:skolem:' || md5(identifier))
             AS first_skolem
    FROM f GROUP BY 1 ORDER BY 1""")
def _q_sparql_hashes(spark, sf_dir):
    """Q12 SPARQL 1.1 hash builtins (r4): MD5/SHA256 skolem-IRI
    minting — the standard SPARQL idiom for deterministic node ids in
    KG construction — grouped by the leading SHA256 nibble.  Hashes
    are JVM-side codegen (F.md5/F.sha2); one groupBy shuffle."""
    return sparql_select(_triples(spark, sf_dir), """
        SELECT ?nib (COUNT(?d) AS ?n) (MIN(?skolem) AS ?first_skolem)
        WHERE {
          ?d dcterms:identifier ?ident .
          BIND(CONCAT("urn:skolem:", MD5(?ident)) AS ?skolem)
          BIND(SUBSTR(SHA256(?ident), 1, 1) AS ?nib)
        } GROUP BY ?nib ORDER BY ?nib""")


# knowledge fusion: trust-weighted vote, ties -> object asc
@query("kg_fact_fusion", oracle=_FUSION_CTE + """
    SELECT subject, predicate, object, support, n_sources
    FROM ranked WHERE rk = 1 ORDER BY subject""")
def _q_fact_fusion(spark, sf_dir):
    """Knowledge fusion (Dong et al. 2014): trust-weighted source
    voting per (subject, predicate) with deterministic tie-breaks —
    the conflict-resolution stage of web-scale KG construction.
    Broadcast trust dim + one groupBy + one window."""
    return (fact_fusion(_claims(spark, sf_dir), _source_weights(spark))
            .orderBy("subject"))


@query("kg_source_accuracy", oracle=_FUSION_CTE + """,
    truth AS (
      SELECT subject, predicate, object AS true_object
      FROM ranked WHERE rk = 1)
    SELECT c.source,
           CAST(SUM(CASE WHEN c.object = t.true_object
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
           CAST(COUNT(*) AS BIGINT) AS n_claims,
           (CAST(SUM(CASE WHEN c.object = t.true_object
                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // CAST(COUNT(*) AS BIGINT) AS accuracy_ppm
    FROM dclaims c
    LEFT JOIN truth t
      ON c.subject = t.subject AND c.predicate = t.predicate
    GROUP BY c.source ORDER BY c.source""")
def _q_source_accuracy(spark, sf_dir):
    """TruthFinder/ACCU EM half-step: re-score each source by
    agreement with the fused values, exact-integer ppm so the score
    is engine-portable."""
    claims = _claims(spark, sf_dir)
    fused = fact_fusion(claims, _source_weights(spark))
    return source_accuracy(claims, fused).orderBy("source")


# gaps-and-islands interval coalescing, closed-closed ints
@query("kg_valid_intervals", oracle="""
    WITH iv AS (
      SELECT CAST(doc_id % 50 AS BIGINT) AS entity,
             CAST((doc_id * 37) % 1461 AS BIGINT) AS valid_from,
             CAST((doc_id * 37) % 1461 + 30
                  + (doc_id % 5) * 20 AS BIGINT) AS valid_to
      FROM documents),
    flg AS (
      SELECT *, CASE WHEN
          MAX(valid_to) OVER (PARTITION BY entity
            ORDER BY valid_from, valid_to
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          IS NULL OR valid_from >
          MAX(valid_to) OVER (PARTITION BY entity
            ORDER BY valid_from, valid_to
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        THEN 1 ELSE 0 END AS ni
      FROM iv),
    isl AS (
      SELECT *, SUM(ni) OVER (PARTITION BY entity
               ORDER BY valid_from, valid_to
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flg)
    SELECT entity, MIN(valid_from) AS valid_from,
           MAX(valid_to) AS valid_to,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY entity, island
    ORDER BY entity, valid_from""")
def _q_valid_intervals(spark, sf_dir):
    """Temporal-KG validity coalescing: per-entity overlapping
    validity spans (planted: start = issued-day offset, length
    30..110 days as integers) merged by the gaps-and-islands window
    program."""
    d = _read(spark, sf_dir, "documents")
    iv = d.select(
        (F.col("doc_id") % 50).cast("long").alias("entity"),
        ((F.col("doc_id") * 37) % 1461).cast("long").alias("valid_from"),
        ((F.col("doc_id") * 37) % 1461 + 30
         + (F.col("doc_id") % 5) * 20).cast("long").alias("valid_to"))
    return (coalesce_intervals(iv, "entity")
            .orderBy("entity", "valid_from"))


# planted violations, closed-form (the real broadcast-join +
# per-focus aggregation runs Spark-side)
@query("kg_shacl_violations", oracle="""
    WITH d AS (SELECT doc_id,
           'https://example.org/res/doc/' || doc_id AS focus
           FROM documents)
    SELECT focus, 's_title' AS shape_id,
           'minCount' AS "constraint",
           CAST(1 AS BIGINT) AS expected,
           CAST(0 AS BIGINT) AS actual
    FROM d WHERE doc_id % 11 = 0
    UNION ALL
    SELECT focus, 's_issued', 'maxCount', 1, 2
    FROM d WHERE doc_id % 13 = 0
    UNION ALL
    SELECT focus, 's_words', 'pattern', 0, 1
    FROM d WHERE doc_id % 17 = 0
    ORDER BY focus, shape_id, "constraint" """)
def _q_shacl_violations(spark, sf_dir):
    """SHACL-lite node validation (minCount / maxCount / pattern)
    over a closed-form triple table: the REAL broadcast-join +
    per-focus aggregation runs Spark-side, the oracle emits the
    planted violations."""
    triples, shapes = _shacl_input(spark, sf_dir)
    return (shacl_validate(triples, shapes)
            .orderBy("focus", "shape_id", "constraint"))


@query("kg_disjoint_violations", oracle="""
    SELECT 'https://example.org/res/doc/' || doc_id AS subj,
           'https://example.org/vocab#Organization' AS class_a,
           'https://example.org/vocab#Person' AS class_b
    FROM documents WHERE doc_id % 6 = 0 ORDER BY subj""")
def _q_disjoint_violations(spark, sf_dir):
    """owl:disjointWith consistency: docs typed Person (doc_id%2==0)
    and Organization (doc_id%3==0) violate the axiom exactly when
    doc_id%6==0."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    uri = F.format_string("https://example.org/res/doc/%d", did)
    person = (d.where(did % 2 == 0)
              .select(uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                      F.lit("https://example.org/vocab#Person")
                      .alias("obj")))
    org = (d.where(did % 3 == 0)
           .select(uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                   F.lit("https://example.org/vocab#Organization")
                   .alias("obj")))
    axioms = spark.createDataFrame(
        [("https://example.org/vocab#Person",
          "https://example.org/vocab#Organization")],
        "class_a string, class_b string")
    return (disjoint_violations(person.unionByName(org), axioms)
            .orderBy("subj"))


# expected parse of the five closed-form N-Quads line shapes
@query("kg_nquads_triples", oracle="""
    WITH d AS (SELECT doc_id,
           '<https://example.org/s/' || doc_id || '>' AS s,
           '<https://example.org/p/' || (doc_id % 7) || '>' AS p
           FROM documents)
    SELECT
      CASE WHEN doc_id % 5 = 4 THEN NULL
           WHEN doc_id % 5 = 3 THEN '_:b' || doc_id
           ELSE 'https://example.org/s/' || doc_id END AS subj,
      CASE WHEN doc_id % 5 = 4 THEN NULL
           ELSE 'https://example.org/p/' || (doc_id % 7)
           END AS pred,
      CASE doc_id % 5
        WHEN 0 THEN 'https://example.org/o/' || doc_id
        WHEN 1 THEN 'title ' || doc_id
        WHEN 2 THEN 'v"' || doc_id
        WHEN 3 THEN CAST(doc_id AS VARCHAR)
        ELSE NULL END AS obj,
      CASE WHEN doc_id % 5 = 4 THEN NULL
           ELSE (doc_id % 5 IN (1, 2, 3)) END AS is_literal,
      CASE WHEN doc_id % 5 = 2 THEN 'en' END AS obj_lang,
      CASE WHEN doc_id % 5 = 3
           THEN 'http://www.w3.org/2001/XMLSchema#integer'
           END AS obj_datatype,
      CASE WHEN doc_id % 5 = 3
           THEN 'https://example.org/g/' || (doc_id % 3)
           END AS graph,
      (doc_id % 5 <> 4) AS parse_ok,
      CASE doc_id % 5
        WHEN 0 THEN s || ' ' || p || ' <https://example.org/o/'
                    || doc_id || '> .'
        WHEN 1 THEN s || ' ' || p || ' "title ' || doc_id
                    || '" .'
        WHEN 2 THEN s || ' ' || p || ' "v\\"' || doc_id
                    || '"@en .'
        WHEN 3 THEN '_:b' || doc_id || ' ' || p || ' "'
                    || doc_id
                    || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
                    || ' <https://example.org/g/' || (doc_id % 3)
                    || '> .'
        ELSE 'malformed ' || doc_id END AS raw
    FROM d ORDER BY raw""")
def _q_nquads_triples(spark, sf_dir):
    """Splittable N-Quads ingest: five closed-form line shapes per
    doc_id%5 (iri object / plain literal / escaped+lang literal /
    bnode+datatype+graph / malformed quarantine row); the REAL regex
    parser runs Spark-side, the oracle emits the expected parse."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    s = F.format_string("<https://example.org/s/%d>", did)
    p = F.format_string("<https://example.org/p/%d>", did % 7)
    line = (F.when(did % 5 == 0, F.concat_ws(
                " ", s, p,
                F.format_string("<https://example.org/o/%d>", did),
                F.lit(".")))
            .when(did % 5 == 1, F.concat_ws(
                " ", s, p,
                F.format_string('"title %d"', did), F.lit(".")))
            .when(did % 5 == 2, F.concat_ws(
                " ", s, p,
                F.format_string('"v\\"%d"@en', did), F.lit(".")))
            .when(did % 5 == 3, F.concat_ws(
                " ", F.format_string("_:b%d", did), p,
                F.format_string(
                    '"%d"^^<http://www.w3.org/2001/XMLSchema#integer>',
                    did),
                F.format_string("<https://example.org/g/%d>", did % 3),
                F.lit(".")))
            .otherwise(F.format_string("malformed %d", did)))
    return (parse_nquads(d.select(line.alias("value")))
            .orderBy("raw"))


# expected parse of the synthesized per-doc Turtle payloads:
# 6 triples per good doc, 1 quarantine row per malformed doc
@query("kg_turtle_triples", oracle="""
    WITH d AS (SELECT doc_id, coalesce(lang, 'en') AS lang,
           source, CAST(length(text) AS VARCHAR) AS len,
           'https://example.org/doc' || doc_id AS s
           FROM documents),
    good AS (SELECT * FROM d WHERE doc_id % 11 <> 10),
    trip AS (
      SELECT doc_id, s AS subj,
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
          AS pred,
        'https://example.org/Document' AS obj,
        FALSE AS is_literal, CAST(NULL AS VARCHAR) AS obj_lang,
        CAST(NULL AS VARCHAR) AS obj_datatype
      FROM good
      UNION ALL
      SELECT doc_id, s, 'http://purl.org/dc/terms/title',
        'Doc "' || doc_id || '"', TRUE, lang, NULL FROM good
      UNION ALL
      SELECT doc_id, s, 'http://purl.org/dc/terms/extent',
        len, TRUE, NULL,
        'http://www.w3.org/2001/XMLSchema#integer' FROM good
      UNION ALL
      SELECT doc_id, s, 'https://example.org/score',
        (doc_id % 10) || '.25', TRUE, NULL,
        'http://www.w3.org/2001/XMLSchema#decimal' FROM good
      UNION ALL
      SELECT doc_id, s, 'https://example.org/source',
        'https://example.org/src_' || source, FALSE, NULL,
        NULL FROM good
      UNION ALL
      SELECT doc_id, s, 'https://example.org/source',
        'https://example.org/mirror_' || source, FALSE, NULL,
        NULL FROM good)
    SELECT doc_id, subj, pred, obj, is_literal, obj_lang,
           obj_datatype, TRUE AS parse_ok,
           CAST(NULL AS VARCHAR) AS error
    FROM trip
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, CAST(NULL AS BOOLEAN),
           NULL, NULL, FALSE,
           'ValueError: turtle parse error at ''???'''
    FROM d WHERE doc_id % 11 = 10
    ORDER BY doc_id, pred, obj""")
def _q_turtle_triples(spark, sf_dir):
    """Distributed Turtle ingest (the reference's other RDF file
    syntax: vocab/*.ttl + dumprdf/dumpstore default to turtle,
    documentrepository.py:410-447, devel.py:293,314): one synthesized
    .ttl payload per doc exercising @prefix expansion, `a`, predicate
    (`;`) and object (`,`) lists, an escaped+lang'd string literal,
    abbreviated integer and decimal literals, and a malformed doc
    (doc_id%11==10) that must come back as ONE quarantine row.  The
    REAL tokenizer/parser runs Spark-side per document (Turtle is not
    line-splittable, so the distribution unit is the doc); the oracle
    emits the expected parse closed-form."""
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("en")).alias("lang"),
        "source", F.length("text").alias("len"))
    did = F.col("doc_id")
    ttl = F.when(did % 11 == 10, F.lit("???")).otherwise(F.concat_ws(
        "\n",
        F.lit("@prefix ex: <https://example.org/> ."),
        F.lit("@prefix dct: <http://purl.org/dc/terms/> ."),
        F.format_string("ex:doc%d a ex:Document ;", did),
        F.concat(F.lit('  dct:title "Doc \\"'), did.cast("string"),
                 F.lit('\\""@'), F.col("lang"), F.lit(" ;")),
        F.format_string("  dct:extent %d ;", F.col("len")),
        F.format_string("  ex:score %d.25 ;", did % 10),
        F.concat(F.lit("  ex:source ex:src_"), F.col("source"),
                 F.lit(" , ex:mirror_"), F.col("source"), F.lit(" ."))))
    return (parse_turtle_docs(d.select("doc_id", ttl.alias("ttl")))
            .orderBy("doc_id", "pred", "obj"))


# full relational replay of the AMIE-lite program over the
# planted likes/buys/views KG
@query("kg_mined_rules", oracle="WITH " + _RULES_KG_CTE + """
    SELECT s.body_pred, s.head_pred, s.support,
           mb.n_pairs AS n_body, mh.n_pairs AS n_head,
           CAST(s.support AS DOUBLE) / mh.n_pairs
             AS head_coverage,
           CAST(s.support AS DOUBLE) / mb.n_pairs
             AS confidence,
           CAST(s.support AS DOUBLE) / p.n_pca_body
             AS pca_confidence
    FROM sup s
    JOIN marg mb ON mb.pred = s.body_pred
    JOIN marg mh ON mh.pred = s.head_pred
    JOIN pca p ON p.body_pred = s.body_pred
              AND p.head_pred = s.head_pred
    ORDER BY s.body_pred, s.head_pred""")
def _q_mined_rules(spark, sf_dir):
    """AMIE-lite single-atom rule mining (support, head coverage, CWA
    and PCA confidence) over the planted likes/buys/views KG; the
    oracle replays the whole relational program (distinct, pair
    self-join, marginals, PCA subject join, exact IEEE ratios)."""
    return (mine_rules(_rules_triples(spark, sf_dir))
            .orderBy("body_pred", "head_pred"))


# predicted-but-absent head facts for every rule at CWA
# confidence >= 0.9
@query("kg_rule_violations", oracle="WITH " + _RULES_KG_CTE + """,
    rules AS (SELECT s.body_pred, s.head_pred,
                     CAST(s.support AS DOUBLE) / mb.n_pairs
                       AS confidence
              FROM sup s
              JOIN marg mb ON mb.pred = s.body_pred
              WHERE CAST(s.support AS DOUBLE) / mb.n_pairs
                    >= 0.9)
    SELECT b.subj, b.obj, r.head_pred, r.body_pred,
           r.confidence
    FROM t b JOIN rules r ON b.pred = r.body_pred
    WHERE NOT EXISTS (SELECT 1 FROM t h
                      WHERE h.subj = b.subj AND h.obj = b.obj
                        AND h.pred = r.head_pred)
    ORDER BY b.subj, r.body_pred, r.head_pred""")
def _q_rule_violations(spark, sf_dir):
    """KG-repair work-list: body pairs of every rule with CWA
    confidence >= 0.9 whose head fact is absent (likes=>buys misses
    the doc_id%17==0 pairs, buys=>likes misses the decoy w_i pairs,
    views=>buys misses the %5<2 & %17==0 overlap)."""
    t = _rules_triples(spark, sf_dir)
    return (rule_violations(t, mine_rules(t), min_confidence=0.9)
            .orderBy("subj", "body_pred", "head_pred"))


# planted parent_of/child_of/likes/knows KG; replay of the
# distinct / flipped-join / marginal program
@query("kg_inverse_rules", oracle="""
    WITH t AS (
      SELECT 'a' || doc_id AS subj, 'parent_of' AS pred,
             'b' || doc_id AS obj FROM documents
      UNION ALL
      SELECT 'b' || doc_id, 'child_of', 'a' || doc_id
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT 'a' || doc_id, 'likes', 'b' || doc_id
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT 'a' || doc_id, 'knows', 'b' || doc_id
      FROM documents WHERE doc_id % 6 = 0
      UNION ALL
      SELECT 'b' || doc_id, 'knows', 'a' || doc_id
      FROM documents WHERE doc_id % 6 = 0),
    dt AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o
           FROM t),
    sup AS (SELECT f.p AS body_pred, r.p AS head_pred,
            CAST(COUNT(*) AS BIGINT) AS support
            FROM dt f JOIN dt r ON f.s = r.o AND f.o = r.s
            WHERE f.p <> r.p
            GROUP BY f.p, r.p),
    marg AS (SELECT p AS body_pred,
             CAST(COUNT(*) AS BIGINT) AS n_body
             FROM dt GROUP BY p)
    SELECT s.body_pred, s.head_pred, s.support, m.n_body,
           CAST(s.support AS DOUBLE) / m.n_body AS confidence
    FROM sup s JOIN marg m USING (body_pred)
    ORDER BY body_pred, head_pred""")
def _q_inverse_rules(spark, sf_dir):
    """Inverse-predicate mining over a planted parent_of/child_of KG
    (child_of missing for doc_id%13==0, a likes overlay on %4==0, a
    symmetric knows on %6==0 that must NOT appear); the oracle
    replays the distinct/flipped-join/marginal program."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    a = F.format_string("a%d", did)
    b = F.format_string("b%d", did)

    def tri(df, s, pred, o):
        return df.select(s.alias("subj"), F.lit(pred).alias("pred"),
                         o.alias("obj"))

    t = (tri(d, a, "parent_of", b)
         .unionByName(tri(d.where(did % 13 != 0), b, "child_of", a))
         .unionByName(tri(d.where(did % 4 == 0), a, "likes", b))
         .unionByName(tri(d.where(did % 6 == 0), a, "knows", b))
         .unionByName(tri(d.where(did % 6 == 0), b, "knows", a)))
    return (mine_inverse_rules(t)
            .orderBy("body_pred", "head_pred"))


# replays the 3 first-degree-hash rounds: contribution
# format 's|pred|label' / 'o|pred|label', labels blinded to
# '_:' at round 0, md5 over the newline-joined sorted
# multiset each round — identical to bnode_canonicalize
@query("kg_bnode_canonical", oracle="""
    WITH base AS (
      SELECT doc_id,
             'https://example.org/res/doc/' || doc_id AS g,
             '_:x' || ((doc_id * 7) % 991) AS b_x,
             '_:y' || ((doc_id * 13) % 997) AS b_y,
             '_:z' || ((doc_id * 3) % 983) AS b_z
      FROM documents),
    quads AS (
      SELECT g, g AS s, 'ex:author' AS p, b_x AS o FROM base
      UNION ALL SELECT g, b_x, 'ex:name',
             '"Author ' || (doc_id % 13) || '"' FROM base
      UNION ALL SELECT g, b_x, 'ex:affiliation', b_y FROM base
      UNION ALL SELECT g, b_y, 'ex:name',
             '"Org ' || (doc_id % 7) || '"' FROM base
      UNION ALL SELECT g, b_z, 'ex:memberOf', b_y FROM base
      UNION ALL SELECT g, b_z, 'ex:name',
             '"Member ' || (doc_id % 5) || '"' FROM base),
    bn AS (
      SELECT DISTINCT g, s AS b FROM quads
      WHERE starts_with(s, '_:')
      UNION
      SELECT DISTINCT g, o FROM quads
      WHERE starts_with(o, '_:')),
    l0 AS (SELECT g, b, '_:' AS lbl FROM bn),
    c1 AS (
      SELECT q.g, q.s AS b,
             's|' || q.p || '|' || COALESCE(lo.lbl, q.o) AS c
      FROM quads q LEFT JOIN l0 lo
        ON lo.g = q.g AND lo.b = q.o
      WHERE starts_with(q.s, '_:')
      UNION ALL
      SELECT q.g, q.o,
             'o|' || q.p || '|' || COALESCE(ls.lbl, q.s)
      FROM quads q LEFT JOIN l0 ls
        ON ls.g = q.g AND ls.b = q.s
      WHERE starts_with(q.o, '_:')),
    l1 AS (SELECT g, b,
                  md5(string_agg(c, chr(10) ORDER BY c)) AS lbl
           FROM c1 GROUP BY g, b),
    c2 AS (
      SELECT q.g, q.s AS b,
             's|' || q.p || '|' || COALESCE(lo.lbl, q.o) AS c
      FROM quads q LEFT JOIN l1 lo
        ON lo.g = q.g AND lo.b = q.o
      WHERE starts_with(q.s, '_:')
      UNION ALL
      SELECT q.g, q.o,
             'o|' || q.p || '|' || COALESCE(ls.lbl, q.s)
      FROM quads q LEFT JOIN l1 ls
        ON ls.g = q.g AND ls.b = q.s
      WHERE starts_with(q.o, '_:')),
    l2 AS (SELECT g, b,
                  md5(string_agg(c, chr(10) ORDER BY c)) AS lbl
           FROM c2 GROUP BY g, b),
    c3 AS (
      SELECT q.g, q.s AS b,
             's|' || q.p || '|' || COALESCE(lo.lbl, q.o) AS c
      FROM quads q LEFT JOIN l2 lo
        ON lo.g = q.g AND lo.b = q.o
      WHERE starts_with(q.s, '_:')
      UNION ALL
      SELECT q.g, q.o,
             'o|' || q.p || '|' || COALESCE(ls.lbl, q.s)
      FROM quads q LEFT JOIN l2 ls
        ON ls.g = q.g AND ls.b = q.s
      WHERE starts_with(q.o, '_:')),
    l3 AS (SELECT g, b,
                  md5(string_agg(c, chr(10) ORDER BY c)) AS lbl
           FROM c3 GROUP BY g, b)
    SELECT g AS context, b AS bnode,
           'c14n' || (row_number() OVER (
               PARTITION BY g ORDER BY lbl, b) - 1)
             AS canon_label,
           lbl AS hash,
           CAST(COUNT(*) OVER (PARTITION BY g, lbl) - 1
                AS BIGINT) AS n_hash_ties
    FROM l3 ORDER BY context, canon_label""")
def _q_kg_bnode_canonical(spark, sf_dir):
    """RDFC-style canonical blank-node labels over per-doc graphs:
    each doc plants a 3-bnode author/org/member structure with
    doc-varying ARBITRARY bnode names; canonical labels depend only
    on structure (names never enter a hash).  The oracle replays the
    3 hashing rounds in SQL with the same contribution format and
    md5, so labels and hashes match bit-for-bit."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    g = F.concat(F.lit("https://example.org/res/doc/"),
                 did.cast("string"))
    bx = F.concat(F.lit("_:x"), ((did * 7) % 991).cast("string"))
    by = F.concat(F.lit("_:y"), ((did * 13) % 997).cast("string"))
    bz = F.concat(F.lit("_:z"), ((did * 3) % 983).cast("string"))
    lit_author = F.concat(F.lit('"Author '), (did % 13).cast("string"),
                          F.lit('"'))
    lit_org = F.concat(F.lit('"Org '), (did % 7).cast("string"),
                       F.lit('"'))
    lit_member = F.concat(F.lit('"Member '), (did % 5).cast("string"),
                          F.lit('"'))
    def t(s, p, o):
        return F.struct(s.alias("subj"), F.lit(p).alias("pred"),
                        o.alias("obj"))

    # one explode, not a 6-way union: unions stack scan partitions
    # (6 x 32 = 192 tiny tasks feeding every fixpoint round)
    quads = (d.select(
        g.alias("context"),
        F.explode(F.array(
            t(g, "ex:author", bx),
            t(bx, "ex:name", lit_author),
            t(bx, "ex:affiliation", by),
            t(by, "ex:name", lit_org),
            t(bz, "ex:memberOf", by),
            t(bz, "ex:name", lit_member))).alias("q"))
        .select("context", "q.subj", "q.pred", "q.obj"))
    return (bnode_canonicalize(quads, rounds=3)
            .orderBy("context", "canon_label"))


@query("kg_path_rules", oracle="""
    WITH t AS (
      SELECT 'https://example.org/res/doc/' || doc_id AS s,
             'ex:author' AS p, 'p' || (doc_id % 40) AS o
      FROM documents
      UNION ALL
      SELECT 'p' || (doc_id % 40), 'ex:affiliation',
             'o' || (doc_id % 8) FROM documents
      UNION ALL
      SELECT 'p' || (doc_id % 40), 'ex:member',
             't' || (doc_id % 4) FROM documents
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'ex:works_at', 'o' || (doc_id % 8)
      FROM documents WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT 'o' || (doc_id % 8), 'ex:parent_org',
             'g' || ((doc_id % 8) // 4) FROM documents
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'ex:division', 'g' || ((doc_id % 8) // 4)
      FROM documents WHERE doc_id % 2 = 0),
    body AS (
      SELECT DISTINCT a.p AS p1, b.p AS p2, a.s AS x,
                      b.o AS z
      FROM t a JOIN t b ON a.o = b.s),
    nb AS (SELECT p1, p2,
                  CAST(COUNT(*) AS BIGINT) AS n_body_pairs
           FROM body GROUP BY p1, p2),
    supp AS (
      SELECT body.p1, body.p2, h.p AS head_pred,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM body JOIN t h
        ON h.s = body.x AND h.o = body.z
      GROUP BY 1, 2, 3)
    SELECT p1 AS body_p1, p2 AS body_p2, head_pred, support,
           n_body_pairs,
           CAST(1000 * support // n_body_pairs AS BIGINT)
             AS confidence_permille
    FROM supp JOIN nb USING (p1, p2)
    WHERE support >= 1
    ORDER BY body_p1, body_p2, head_pred""")
def _q_kg_path_rules(spark, sf_dir):
    """2-hop chain rule mining over a planted author/affiliation/
    works_at KG: author(x,y) ∧ affiliation(y,z) ⇒ works_at(x,z)
    holds for 2/3 of docs by construction (works_at planted only
    when doc_id % 3 != 0), so support / n_body_pairs / confidence
    are closed-form."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    doc = F.concat(F.lit("https://example.org/res/doc/"),
                   did.cast("string"))
    person = F.concat(F.lit("p"), (did % 40).cast("string"))
    org = F.concat(F.lit("o"), (did % 8).cast("string"))
    team = F.concat(F.lit("t"), (did % 4).cast("string"))
    grp = F.concat(F.lit("g"), F.expr("(doc_id % 8) div 4"))
    t = (d.select(doc.alias("subj"), F.lit("ex:author").alias("pred"),
                  person.alias("obj"))
         .unionByName(d.select(person.alias("subj"),
                               F.lit("ex:affiliation").alias("pred"),
                               org.alias("obj")))
         .unionByName(d.select(person.alias("subj"),
                               F.lit("ex:member").alias("pred"),
                               team.alias("obj")))
         .unionByName(d.where(did % 3 != 0)
                      .select(doc.alias("subj"),
                              F.lit("ex:works_at").alias("pred"),
                              org.alias("obj")))
         .unionByName(d.select(org.alias("subj"),
                               F.lit("ex:parent_org").alias("pred"),
                               grp.alias("obj")))
         .unionByName(d.where(did % 2 == 0)
                      .select(doc.alias("subj"),
                              F.lit("ex:division").alias("pred"),
                              grp.alias("obj"))))
    return (mine_path_rules(t, min_support=1, max_fanout=1000000)
            .orderBy("body_p1", "body_p2", "head_pred"))


@query("kg_graph_diff", oracle="""
    WITH old_t AS (
      SELECT 'https://example.org/res/doc/' || doc_id AS s,
             'dct:title' AS p, 'Document ' || doc_id AS o
      FROM documents
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'dct:publisher', 'pub' || (doc_id % 7)
      FROM documents
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'dct:subject', 'topic' || (doc_id % 11)
      FROM documents),
    new_t AS (
      SELECT 'https://example.org/res/doc/' || doc_id AS s,
             'dct:title' AS p,
             'Document ' || doc_id ||
             CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END
               AS o
      FROM documents
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'dct:publisher', 'pub' || (doc_id % 7)
      FROM documents
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'dct:subject', 'topic' || (doc_id % 11)
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT 'https://example.org/res/doc/' || doc_id,
             'dct:note', 'updated'
      FROM documents WHERE doc_id % 11 = 0),
    j AS (
      SELECT COALESCE(o.s, n.s) AS subj,
             CASE WHEN o.s IS NULL THEN 1 ELSE 0 END AS a,
             CASE WHEN n.s IS NULL THEN 1 ELSE 0 END AS r,
             CASE WHEN o.s IS NOT NULL AND n.s IS NOT NULL
                  THEN 1 ELSE 0 END AS u
      FROM old_t o FULL OUTER JOIN new_t n
        ON o.s = n.s AND o.p = n.p AND o.o = n.o),
    agg AS (
      SELECT subj, CAST(SUM(a) AS BIGINT) AS n_added,
             CAST(SUM(r) AS BIGINT) AS n_removed,
             CAST(SUM(u) AS BIGINT) AS n_unchanged
      FROM j GROUP BY subj)
    SELECT subj, n_added, n_removed, n_unchanged,
           CASE WHEN n_added = 0 AND n_removed = 0
                THEN 'unchanged'
                WHEN n_unchanged + n_removed = 0 THEN 'added'
                WHEN n_unchanged + n_added = 0 THEN 'removed'
                ELSE 'modified' END AS change_type
    FROM agg ORDER BY subj""")
def _q_kg_graph_diff(spark, sf_dir):
    """Subject-rollup diff of two planted KG versions: every 7th doc
    gets a retitle (modified), every 11th an extra note triple,
    every 13th loses its subject triple; overlapping cases compose —
    the oracle replays the same full-outer join, not an enumeration."""
    d = _read(spark, sf_dir, "documents")
    return (graph_diff(_kg_diff_side(d, False), _kg_diff_side(d, True))
            .orderBy("subj"))


@query("kg_interval_conflicts", oracle="""
    WITH facts AS (
      SELECT 'https://example.org/res/entity/' || (doc_id % 50)
               AS subject,
             'org:employer' AS predicate,
             'https://example.org/res/org/pub' || (doc_id % 7)
               AS object,
             DATE '2020-01-01'
               + INTERVAL ((doc_id * 37) % 1461) DAY
               AS valid_from,
             DATE '2020-01-01'
               + INTERVAL (((doc_id * 37) % 1461)
                           + 60 + (doc_id % 5) * 45) DAY
               AS valid_to
      FROM documents)
    SELECT a.subject, a.predicate,
           a.object AS obj_a, b.object AS obj_b,
           strftime(greatest(a.valid_from, b.valid_from),
                    '%Y-%m-%d') AS overlap_from,
           strftime(least(a.valid_to, b.valid_to),
                    '%Y-%m-%d') AS overlap_to
    FROM facts a JOIN facts b
      ON a.subject = b.subject AND a.predicate = b.predicate
    WHERE a.object < b.object
      AND a.valid_from < b.valid_to
      AND b.valid_from < a.valid_to
    ORDER BY a.subject, obj_a, obj_b, overlap_from,
             overlap_to""")
def _q_kg_interval_conflicts(spark, sf_dir):
    """Temporal functional-predicate conflicts over planted employer
    facts (20 facts per entity, 60-240 day validity windows): pairs
    with the same (subject, predicate), different object, overlapping
    [from, to) validity — the pre-fusion constraint check."""
    facts = _employer_facts(spark, sf_dir)
    return (interval_conflicts(facts)
            .select("subject", "predicate", "obj_a", "obj_b",
                    F.date_format("overlap_from", "yyyy-MM-dd")
                    .alias("overlap_from"),
                    F.date_format("overlap_to", "yyyy-MM-dd")
                    .alias("overlap_to"))
            .orderBy("subject", "obj_a", "obj_b", "overlap_from",
                     "overlap_to"))


# 2-round Sums fixpoint unrolled, integer micro + div-by-max
@query("kg_truthfinder", oracle="""
    WITH claims AS (
      SELECT 'https://example.org/res/entity/' || (doc_id % 50)
               AS subject,
             'rdfs:label' AS predicate,
             'Label ' || (CASE WHEN doc_id % 3 = 0
                          THEN (doc_id % 50 + 1) % 7
                          ELSE (doc_id % 50) % 7 END)
               AS object,
             source
      FROM documents),
    e AS (SELECT DISTINCT subject, predicate, object, source
          FROM claims),
    b1r AS (SELECT subject, predicate, object,
                   COUNT(DISTINCT source) AS ns,
                   CAST(COUNT(DISTINCT source) * 1000000
                        AS BIGINT) AS b
            FROM e GROUP BY 1, 2, 3),
    b1 AS (SELECT subject, predicate, object, ns,
                  CAST(b * 1000000
                       // (SELECT MAX(b) FROM b1r)
                       AS BIGINT) AS b
           FROM b1r),
    t1r AS (SELECT source, CAST(SUM(b1.b) AS BIGINT) AS t
            FROM e JOIN b1
              USING (subject, predicate, object)
            GROUP BY source),
    t1 AS (SELECT source,
                  CAST(t * 1000000
                       // (SELECT MAX(t) FROM t1r)
                       AS BIGINT) AS t
           FROM t1r),
    b2r AS (SELECT subject, predicate, object,
                   COUNT(DISTINCT e.source) AS ns,
                   CAST(SUM(t1.t) AS BIGINT) AS b
            FROM e JOIN t1 USING (source)
            GROUP BY 1, 2, 3),
    b2 AS (SELECT subject, predicate, object,
                  CAST(ns AS BIGINT) AS n_sources,
                  CAST(b * 1000000
                       // (SELECT MAX(b) FROM b2r)
                       AS BIGINT) AS b
           FROM b2r)
    SELECT subject, predicate, object, n_sources,
           b AS belief_micro,
           row_number() OVER (PARTITION BY subject, predicate
                              ORDER BY b DESC, object) = 1
             AS is_winner
    FROM b2 ORDER BY subject, object""")
def _q_kg_truthfinder(spark, sf_dir):
    """Sums/HITS truth finding over the planted conflicting claims
    (2 rounds, exact integer micro-units with div-by-max
    re-rounding): sources backing majority labels gain trust, and
    the final per-(subject, predicate) winner is the belief argmax."""
    return (truthfinder_sums(_claims(spark, sf_dir), rounds=2)
            .orderBy("subject", "object"))


@query("kg_asof_diff", oracle="""
    WITH facts AS (
      SELECT 'https://example.org/res/entity/' || (doc_id % 50)
               AS subject,
             'org:employer' AS predicate,
             'https://example.org/res/org/pub' || (doc_id % 7)
               AS object,
             DATE '2020-01-01'
               + INTERVAL ((doc_id * 37) % 1461) DAY
               AS valid_from,
             DATE '2020-01-01'
               + INTERVAL (((doc_id * 37) % 1461)
                           + 60 + (doc_id % 5) * 45) DAY
               AS valid_to
      FROM documents),
    a1 AS (SELECT DISTINCT subject, predicate, object,
                  1 AS fa
           FROM facts
           WHERE valid_from <= DATE '2021-06-01'
             AND valid_to > DATE '2021-06-01'),
    a2 AS (SELECT DISTINCT subject, predicate, object,
                  1 AS fb
           FROM facts
           WHERE valid_from <= DATE '2022-06-01'
             AND valid_to > DATE '2022-06-01')
    SELECT subject, predicate, object,
           CASE WHEN fa IS NULL THEN 'added'
                WHEN fb IS NULL THEN 'removed'
                ELSE 'kept' END AS status
    FROM a1 FULL OUTER JOIN a2
      USING (subject, predicate, object)
    ORDER BY subject, object, status""")
def _q_kg_asof_diff(spark, sf_dir):
    """Temporal-KG state diff between AS-OF 2021-06-01 and
    2022-06-01 over the planted employer facts: added / removed /
    kept via two point-in-interval filters + one fact-keyed full
    outer join."""
    facts = _employer_facts(spark, sf_dir)
    return (asof_diff(facts,
                      F.lit("2021-06-01").cast("date"),
                      F.lit("2022-06-01").cast("date"))
            .orderBy("subject", "object", "status"))


@query("kg_rdfstar", oracle=r"""
    WITH lines AS (
      SELECT CASE WHEN doc_id % 29 = 0
             THEN 'malformed ' || doc_id
             ELSE '<< ex:e' || (doc_id % 50)
                  || ' ex:worksFor ex:org' || (doc_id % 7)
                  || ' >> ex:confidence "'
                  || (doc_id % 1000) || '" .' END AS line
      FROM documents),
    px AS (
      SELECT line,
             regexp_extract(line,
               '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
               1) AS s,
             regexp_extract(line,
               '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
               2) AS p,
             regexp_extract(line,
               '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
               3) AS o,
             regexp_extract(line,
               '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
               4) AS ap,
             regexp_extract(line,
               '^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>\s+(\S+)\s+(\S+)\s*\.$',
               5) AS av
      FROM lines)
    SELECT CASE WHEN s <> ''
           THEN md5(s || '|' || p || '|' || o) END AS stmt_id,
           CASE WHEN s <> '' THEN s END AS subj,
           CASE WHEN s <> '' THEN p END AS pred,
           CASE WHEN s <> '' THEN o END AS obj,
           CASE WHEN s <> '' THEN ap END AS ann_pred,
           CASE WHEN s <> '' THEN av END AS ann_obj,
           s <> '' AS parsed
    FROM px ORDER BY stmt_id, ann_obj, parsed""")
def _q_kg_rdfstar(spark, sf_dir):
    """RDF-star annotation parsing over planted Turtle-star lines
    (one quoted-triple confidence annotation per doc, every 29th
    line malformed -> quarantine flag)."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    line = F.when(
        did % 29 == 0,
        F.concat(F.lit("malformed "), did.cast("string"))).otherwise(
        F.concat(F.lit("<< ex:e"), (did % 50).cast("string"),
                 F.lit(" ex:worksFor ex:org"),
                 (did % 7).cast("string"),
                 F.lit(' >> ex:confidence "'),
                 (did % 1000).cast("string"), F.lit('" .')))
    return (rdfstar_annotations(d.select(line.alias("line")))
            .orderBy("stmt_id", "ann_obj", "parsed"))
