"""ferenda_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference framework (zigit/ferenda).

The reference transforms unstructured document collections into Linked
Data (RDF triples) plus derived analytic tables (facets, TOC, feeds,
fulltext search).  This package re-expresses those stages as
DataFrame/SQL programs with per-row Python stages run through one
Arrow row mapper (``rowmap.map_rows``):

    pages (url, warc_ts, html, text, lang)
      -> extract   (HTML -> text/title/metadata/sections, map_rows)
      -> mentions  (citation recognition, JVM-side regex)
      -> triples   (subj, pred, obj, obj_datatype, obj_lang, context)
      -> linking   (entity linking: broadcast exact + MinHash-LSH fuzzy)
      -> canon     (owl:sameAs connected components, iterative hash-min)
      -> derived   (faceted data, TOC, feeds, stats, search)

Everything here is built from public knowledge: the PySpark API and the
reference's observable behavior (cited by file:line in docstrings).
"""

__version__ = "0.1.0"
