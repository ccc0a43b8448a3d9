"""Distributed N-Quads / N-Triples ingest.

The reference round-trips its triple stores through N-Triples dumps
(``ferenda/triplestore.py`` get_serialized/add_serialized with
format="nt", and ``ferenda/devel.py``'s dumpstore); this module is
the *read* side restated for Spark: N-Quads is the one RDF syntax
that is line-delimited by construction (W3C N-Quads §2), so a 100 TB
dump splits into independent file splits and parses with nothing but
JVM regex expressions — the natural bulk-ingest format for a KG at
10^12 triples (this is how Wikidata/Freebase dumps ship).

``parse_nquads`` is expression-only (regexp passes, no Python, no
shuffle): each line parses independently, malformed lines are
*quarantined* with ``parse_ok = false`` and the raw line preserved
(the per-doc error-quarantine discipline of ``operators/extract.py``
applied to ingest), never dropped silently.

Output term conventions match ``catalog.nt_lines``'s input so
``parse_nquads`` ∘ ``nt_lines`` round-trips: IRIs bare (no angle
brackets); literals carry ``is_literal = true`` plus ``obj_lang`` /
``obj_datatype`` and their lexical form is unescaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..rowmap import map_rows

# One term: IRI | blank node | literal (+ optional @lang / ^^<dt>).
_IRI = r"<[^<>\"{}|^`\\\x00-\x20]*>"
_BNODE = r"_:[A-Za-z][A-Za-z0-9._-]*"
_LIT = r'"(?:[^"\\]|\\.)*"'
_OBJ = r"(?:%s|%s|%s(?:@[A-Za-z]+(?:-[A-Za-z0-9]+)*|\^\^%s)?)" % (
    _IRI, _BNODE, _LIT, _IRI)

_LINE = (r"^(%s|%s)[ \t]+(%s)[ \t]+(%s)(?:[ \t]+(%s|%s))?"
         r"[ \t]*\.$"
         % (_IRI, _BNODE, _IRI, _OBJ, _IRI, _BNODE))


def _bare(col):
    """IRI without its angle brackets; blank nodes pass through."""
    return F.when(col.startswith("<"),
                  col.substr(F.lit(2), F.length(col) - 2)).otherwise(col)


def _unescape(col):
    """Undo the N-Triples string escapes the dump side emits
    (catalog._nt_escape: \\\\ \\" \\n \\r \\t)."""
    # \\ must be decoded first and via a placeholder so that \\n
    # (an escaped backslash followed by n) does not turn into a
    # newline.  \x00 cannot appear in N-Quads input (excluded from
    # the IRI/literal character classes), so it is a safe sentinel.
    c = F.regexp_replace(col, r"\\\\", "\x00")
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\t", "\t")
    c = F.regexp_replace(c, r'\\"', '"')
    return F.regexp_replace(c, "\x00", "\\\\")


def parse_nquads(lines: DataFrame, col: str = "value") -> DataFrame:
    """Parse a DataFrame of N-Quads lines (e.g. ``spark.read.text``).

    Returns (subj, pred, obj, is_literal, obj_lang, obj_datatype,
    graph, parse_ok, raw):

    * ``subj`` / ``pred`` / ``graph`` — IRIs without angle brackets;
      blank nodes keep their ``_:`` form; ``graph`` NULL for the
      default graph;
    * ``obj`` — IRI/bnode, or the *unescaped* literal lexical form;
    * ``is_literal`` + ``obj_lang`` / ``obj_datatype`` — literal
      metadata (NULL when absent);
    * ``parse_ok`` — false for lines that are neither valid quads,
      blank, nor comments (those rows carry NULL terms and the
      offending ``raw`` text for quarantine);
    * blank lines and ``#`` comment lines are dropped (syntax, not
      data).

    Scale shape: map-only — no shuffle, no Python; a 100 TB dump
    parses at scan speed and the quarantine is a post-hoc filter.
    """
    df = (lines
          .select(F.col(col).alias("raw"))
          .where((F.length(F.trim(F.col("raw"))) > 0)
                 & ~F.trim(F.col("raw")).startswith("#")))
    line = F.trim(F.col("raw"))
    df = (df
          .withColumn("s", F.regexp_extract(line, _LINE, 1))
          .withColumn("p", F.regexp_extract(line, _LINE, 2))
          .withColumn("o", F.regexp_extract(line, _LINE, 3))
          .withColumn("g", F.regexp_extract(line, _LINE, 4)))
    s, p, o, g = F.col("s"), F.col("p"), F.col("o"), F.col("g")
    ok = s != ""
    is_lit = o.startswith('"')
    lit_body = F.regexp_extract(o, r'^"((?:[^"\\]|\\.)*)"', 1)
    lang = F.regexp_extract(o, r'"@([A-Za-z]+(?:-[A-Za-z0-9]+)*)$', 1)
    dtype = F.regexp_extract(o, r'"\^\^<([^>]*)>$', 1)
    obj = F.when(is_lit, _unescape(lit_body)).otherwise(_bare(o))
    return (df.select(
        F.when(ok, _bare(s)).alias("subj"),
        F.when(ok, _bare(p)).alias("pred"),
        F.when(ok, obj).alias("obj"),
        F.when(ok, is_lit).alias("is_literal"),
        F.when(ok & (lang != ""), lang).alias("obj_lang"),
        F.when(ok & (dtype != ""), dtype).alias("obj_datatype"),
        F.when(ok & (g != ""), _bare(g)).alias("graph"),
        ok.alias("parse_ok"),
        F.col("raw")))


TURTLE_SCHEMA = (
    "doc_id long, subj string, pred string, obj string, "
    "is_literal boolean, obj_lang string, obj_datatype string, "
    "parse_ok boolean, error string")


def parse_turtle_docs(docs: DataFrame, id_col: str = "doc_id",
                      col: str = "ttl") -> DataFrame:
    """Distributed Turtle ingest: one Turtle *document* per row ->
    exploded triples, per-doc quarantine.

    The reference consumes Turtle everywhere RDF enters as a file:
    vocabularies (``documentrepository.py:410-447`` parses
    ``vocab/*.ttl`` / ``extra/*.ttl`` with rdflib) and its own dumps
    (``devel.py:293,314`` dumprdf/dumpstore default format="turtle").
    Unlike N-Quads (``parse_nquads``) Turtle is NOT line-splittable —
    statements span lines and @prefix is stateful — so the correct
    distribution unit is the *document*: each .ttl payload parses
    independently inside an Arrow batch (the ``extract_pages`` stage
    shape), embarrassingly parallel, no shuffle, page bytes dropped
    from the output schema.

    Reuses the stdlib-only reader :func:`ferenda_spark.turtle
    .parse_turtle` (the golden-graph comparator), so the distributed
    and driver-side paths cannot drift.  A doc that fails to parse
    yields ONE quarantine row (NULL terms, ``parse_ok`` false, the
    error message) — never a dropped doc, never a failed task
    (the I4 per-doc error-isolation discipline).

    Returns (doc_id, subj, pred, obj, is_literal, obj_lang,
    obj_datatype, parse_ok, error); triples within a doc are emitted
    in sorted order (deterministic output for a given input, though
    downstream consumers treat it as a multiset)."""
    from ..turtle import parse_turtle

    def row(did, text):
        try:
            triples = sorted(parse_turtle(text or ""))
        except Exception as e:
            return [(did, None, None, None, None, None, None, False,
                     "%s: %s" % (type(e).__name__, e))]
        return [(did, s, p, o[1], False, None, None, True, None)
                if o[0] == "uri" else
                (did, s, p, o[1], True, o[2], o[3], True, None)
                for s, p, o in triples]

    return map_rows(docs.select(id_col, col), row, TURTLE_SCHEMA)


def bnode_canonicalize(quads: DataFrame, rounds: int = 3,
                       subj_col: str = "subj", pred_col: str = "pred",
                       obj_col: str = "obj",
                       context_col: str = "context") -> DataFrame:
    """Canonical blank-node labels per named graph via iterated
    first-degree hashing — the step that makes RDF graphs
    COMPARABLE: two serializations of the same graph with arbitrary
    bnode names (every Turtle/RDFa parse mints fresh ones) map to
    identical canonical labels, so graph diff / dedup / change
    detection reduce to set operations on canonical triples.  This
    is the core move of RDFC-1.0 (canonicalized RDF datasets,
    formerly URDNA2015; Longley & Sporny): hash each bnode from its
    first-degree quads with all other bnodes blinded, re-label,
    iterate — i.e. Weisfeiler-Leman color refinement anchored by the
    graph's IRIs and literals.

    Per round, the hash of bnode ``b`` is ``md5`` of the
    newline-joined SORTED multiset of its adjacency contributions:
    ``'s|' + pred + '|' + label(obj)`` for quads where ``b`` is
    subject, ``'o|' + pred + '|' + label(subj)`` where it is object;
    ``label`` is the previous round's hash for bnodes (round 0: the
    uniform placeholder ``'_:'`` — original names NEVER enter a
    hash, which is the whole point) and the term itself otherwise.
    After ``rounds`` rounds bnodes are ranked by final hash within
    their graph: ``c14n0, c14n1, ...``.

    Deviation from full RDFC-1.0, declared: hash ties after
    ``rounds`` rounds (automorphic bnodes, or deeper twin structure
    than ``rounds`` can split) are broken by the ORIGINAL label
    rather than RDFC's N-degree-hash branch — output stays total
    and deterministic per input, but tied labels are then not
    rename-invariant; the ``n_hash_ties`` column exposes exactly
    which rows those are (0 = the label is certified
    rename-invariant).

    Distributed shape: one round = two broadcast-sized hash-map
    joins? No — the label map is |bnodes|-sized, NOT broadcastable
    at 10^12 quads, so each round is two shuffle joins keyed on
    (graph, term) plus one (graph, bnode) aggregate.  All shuffles
    reuse the same key family, AQE coalesces; ``rounds`` is a small
    constant (graph diameter of the bnode substructure, 3 covers
    every real-world RDFa/JSON-LD tree).  Quads with no bnodes never
    leave the scan (filtered at source).

    Returns (context, bnode, canon_label, hash, n_hash_ties).
    """
    q = quads.select(F.col(context_col).alias("g"),
                     F.col(subj_col).alias("s"),
                     F.col(pred_col).alias("p"),
                     F.col(obj_col).alias("o"))
    is_bn = lambda c: c.startswith("_:")  # noqa: E731
    touch = q.where(is_bn(F.col("s")) | is_bn(F.col("o")))
    # normalize the loop width: upstream unions can stack scan
    # partitions (6-way planted unions -> 192 tiny tasks through
    # every round); the fixpoint should run at session width, keyed
    # on the graph so each round's joins see co-located graphs
    nparts = max(1, min(touch.rdd.getNumPartitions(),
                        touch.sparkSession.sparkContext
                        .defaultParallelism))
    touch = touch.repartition(nparts, "g").localCheckpoint(eager=True)
    bnodes = (touch.select("g", F.col("s").alias("b"))
              .where(is_bn(F.col("b")))
              .unionByName(touch.select("g", F.col("o").alias("b"))
                           .where(is_bn(F.col("o"))))
              .distinct())
    # label map: (g, b, lbl); round 0 = uniform blind placeholder
    labels = bnodes.select("g", "b", F.lit("_:").alias("lbl"))
    for _ in range(rounds):
        ls = labels.select(F.col("g"), F.col("b").alias("s"),
                           F.col("lbl").alias("_ls"))
        lo = labels.select(F.col("g"), F.col("b").alias("o"),
                           F.col("lbl").alias("_lo"))
        j = (touch.join(ls, ["g", "s"], "left")
             .join(lo, ["g", "o"], "left"))
        contrib = (j.where(is_bn(F.col("s")))
                   .select("g", F.col("s").alias("b"),
                           F.concat(F.lit("s|"), F.col("p"),
                                    F.lit("|"),
                                    F.coalesce("_lo", F.col("o")))
                           .alias("c"))
                   .unionByName(
                       j.where(is_bn(F.col("o")))
                       .select("g", F.col("o").alias("b"),
                               F.concat(F.lit("o|"), F.col("p"),
                                        F.lit("|"),
                                        F.coalesce("_ls",
                                                   F.col("s")))
                               .alias("c"))))
        labels = (contrib.groupBy("g", "b")
                  .agg(F.md5(F.concat_ws(
                      "\n", F.sort_array(F.collect_list("c"))))
                      .alias("lbl")))
        labels = labels.localCheckpoint(eager=True)
    from pyspark.sql import Window
    w = Window.partitionBy("g").orderBy("lbl", "b")
    wt = Window.partitionBy("g", "lbl")
    return (labels
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_hash_ties",
                        (F.count(F.lit(1)).over(wt) - 1).cast("long"))
            .select(F.col("g").alias("context"),
                    F.col("b").alias("bnode"),
                    F.concat(F.lit("c14n"),
                             (F.col("rn") - 1).cast("string"))
                    .alias("canon_label"),
                    F.col("lbl").alias("hash"),
                    "n_hash_ties"))


def graph_diff(old: DataFrame, new: DataFrame,
               subj_col: str = "subj", pred_col: str = "pred",
               obj_col: str = "obj") -> DataFrame:
    """Triple-level diff of two graph versions rolled up per
    subject — the KG change feed: what an incremental ingest
    actually publishes downstream (ResourceSync-style changelists /
    Wikidata recent-changes, expressed over the triple sets
    themselves rather than page fetches).  Feed both sides through
    :func:`bnode_canonicalize` first and the diff becomes
    rename-insensitive — the reason canonical labels exist.

    Shape: one full-outer join on the (s, p, o) triple key (both
    sides shuffle-partitioned identically — a co-partitioned merge),
    then one subject-keyed aggregate.  ``change_type`` is the
    subject-granularity verdict: 'added' (no old triples),
    'removed' (no new), 'modified' (both, with differences),
    'unchanged'.

    Returns (subj, n_added, n_removed, n_unchanged, change_type).
    """
    key = [subj_col, pred_col, obj_col]
    o = old.select(*key).distinct().withColumn("_o", F.lit(1))
    n = new.select(*key).distinct().withColumn("_n", F.lit(1))
    j = o.join(n, key, "full_outer")
    added = F.when(F.col("_o").isNull(), 1).otherwise(0)
    removed = F.when(F.col("_n").isNull(), 1).otherwise(0)
    unchanged = F.when(F.col("_o").isNotNull()
                       & F.col("_n").isNotNull(), 1).otherwise(0)
    agg = (j.groupBy(F.col(subj_col).alias("subj"))
           .agg(F.sum(added).cast("long").alias("n_added"),
                F.sum(removed).cast("long").alias("n_removed"),
                F.sum(unchanged).cast("long").alias("n_unchanged")))
    ct = (F.when((F.col("n_added") == 0) & (F.col("n_removed") == 0),
                 "unchanged")
          .when(F.col("n_unchanged") + F.col("n_removed") == 0,
                "added")
          .when(F.col("n_unchanged") + F.col("n_added") == 0,
                "removed")
          .otherwise("modified"))
    return agg.select("subj", "n_added", "n_removed", "n_unchanged",
                      ct.alias("change_type"))


RDFSTAR_RE = (r"^<<\s*(\S+)\s+(\S+)\s+(\S+)\s*>>"
              r"\s+(\S+)\s+(\S+)\s*\.$")


def rdfstar_annotations(lines: DataFrame,
                        line_col: str = "line") -> DataFrame:
    """RDF-star quoted-triple annotation parsing (the RDF 1.2 /
    Turtle-star ``<< s p o >> ap av .`` form — how Wikidata-style
    statement qualifiers ship without full reification): each line
    yields its base triple plus one annotation on the QUOTED triple,
    with a deterministic statement id (md5 of the N-Triples-ish
    subject|predicate|object key) so annotations from different
    documents about the same statement converge — the five-row
    reification expansion collapsed to one row.

    Map-only: one regexp per line inside the scan, no shuffle; rows
    that don't match the annotation form pass to a quarantine flag
    rather than vanishing.  Returns (stmt_id, subj, pred, obj,
    ann_pred, ann_obj, parsed)."""
    g = lambda i: F.regexp_extract(F.col(line_col),  # noqa: E731
                                   RDFSTAR_RE, i)
    parsed = g(1) != ""
    return lines.select(
        F.when(parsed, F.md5(F.concat_ws("|", g(1), g(2), g(3))))
        .alias("stmt_id"),
        F.when(parsed, g(1)).alias("subj"),
        F.when(parsed, g(2)).alias("pred"),
        F.when(parsed, g(3)).alias("obj"),
        F.when(parsed, g(4)).alias("ann_pred"),
        F.when(parsed, g(5)).alias("ann_obj"),
        parsed.alias("parsed"))
