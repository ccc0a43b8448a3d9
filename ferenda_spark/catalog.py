"""Triple sink and whole-dataset exports (SURVEY.md S6/S7, X9/X11).

``write_triples`` is the triple sink (S6): one unpartitioned parquet
directory at ``<store>/triples``, rows hash-clustered on the document
context so each per-document graph lands in one file.  It is
atomic-by-replace (S5's write-if-different idempotence comes from the
outputs being deterministic functions of inputs; the resumable,
snapshot-versioned stage tables and the conditional-ingest MERGE,
S2/I5, are ``snaptable.SnapshotTable``).  ``dump_nt`` is the
whole-dataset N-Triples dump (S7, relate_all_teardown
documentrepository.py:1787-1806) with a stable sort for byte-stable
output (O3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def write_triples(triples: DataFrame, store_dir: str) -> str:
    """The triple sink (S6): overwrite ``<store_dir>/triples`` as one
    flat parquet directory and return its path.

    Rows are hash-repartitioned on ``context`` first, so each
    document's graph is written by one task into one file, and the
    file count follows the data (AQE coalesces the shuffle, at most
    ``spark.sql.shuffle.partitions`` files) rather than the upstream
    partitioning.  With no partition directories, a reader lists one
    directory and starts no file-listing job."""
    path = os.path.join(store_dir, "triples")
    triples.repartition("context").write.mode("overwrite").parquet(path)
    return path


def _nt_escape(s):
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r")
            .replace("\t", "\\t"))


def nt_lines(triples: DataFrame) -> DataFrame:
    """(line: string) N-Triples serialization.  When the frame carries
    an explicit ``obj_kind`` column (the distill schema does,
    operators/distill.py:22) that decides IRI-vs-literal exactly —
    covering non-http IRIs like urn: / mailto:.  Otherwise objects are
    IRIs when they look like absolute http(s) IRIs and carry no
    datatype/lang (exact for this engine's triple tables: every
    literal with IRI shape would carry a datatype); literals get
    @lang / ^^datatype."""
    if "obj_kind" in triples.columns:
        obj_is_iri = F.col("obj_kind") == "uri"
    else:
        obj_is_iri = (F.col("obj").rlike(r"^https?://\S+$")
                      & F.col("obj_datatype").isNull()
                      & F.col("obj_lang").isNull())
    # JVM-side escaping chain (backslash first)
    def esc_col(c):
        c = F.regexp_replace(c, r"\\", r"\\\\")
        c = F.regexp_replace(c, '"', '\\\\"')
        c = F.regexp_replace(c, "\n", "\\\\n")
        c = F.regexp_replace(c, "\r", "\\\\r")
        c = F.regexp_replace(c, "\t", "\\\\t")
        return c
    lit = F.concat(F.lit('"'), esc_col(F.col("obj")), F.lit('"'))
    lit = F.when(F.col("obj_lang").isNotNull(),
                 F.concat(lit, F.lit("@"), F.col("obj_lang"))) \
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(lit, F.lit("^^<"), F.col("obj_datatype"),
                       F.lit(">"))) \
        .otherwise(lit)
    obj_term = F.when(obj_is_iri,
                      F.concat(F.lit("<"), F.col("obj"), F.lit(">"))) \
        .otherwise(lit)
    return triples.select(
        F.concat(F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"),
                 F.lit("> "), obj_term, F.lit(" .")).alias("line"))


def dump_nt(triples: DataFrame, path: str, single_file: bool = False,
            num_files: int | None = None) -> int:
    """S7: whole-dataset N-Triples dump, globally sorted
    (subj, pred, obj) for byte-stable output (O3).

    Default (scale-safe) shape: ``repartitionByRange`` on the sort key
    + ``sortWithinPartitions`` — each output file is sorted and the
    range partitioner orders the files themselves, so the
    concatenation in part-file order IS the global sort, with no
    single-writer stage.  A ``_manifest.json`` records per-file line
    counts and first/last lines.  ``single_file=True`` opts into the
    reference-shaped one-file dump (orderBy + coalesce(1) — the
    explicit single-writer choice, only sane at small scale).

    The line count comes from reading back the WRITTEN text (a cheap
    scan of what is already on disk), never from re-running the
    serialization job."""
    spark = triples.sparkSession
    if single_file:
        src = triples.orderBy("subj", "pred", "obj")
        lines = nt_lines(src).coalesce(1)
    else:
        n = num_files or max(spark.sparkContext.defaultParallelism, 1)
        src = (triples
               .repartitionByRange(n, "subj", "pred", "obj")
               .sortWithinPartitions("subj", "pred", "obj"))
        lines = nt_lines(src)
    lines.write.mode("overwrite").text(path)
    written = (spark.read.text(path)
               .withColumn("_file", F.input_file_name()))
    per_file = (written.groupBy("_file")
                .agg(F.count("*").alias("n_lines"),
                     F.min("value").alias("min_line"),
                     F.max("value").alias("max_line"))
                .orderBy("_file")
                .collect())
    import json
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump([{"file": os.path.basename(r._file),
                    "n_lines": r.n_lines,
                    "min_line": r.min_line,
                    "max_line": r.max_line} for r in per_file], fh,
                  indent=1)
    return sum(r.n_lines for r in per_file)


def void_stats(triples: DataFrame,
               dataset_uri: str = "https://example.org/dataset"
               ) -> DataFrame:
    """VoID dataset description (W3C VoID vocabulary): the
    self-describing statistics block every published RDF dataset
    ships (void:triples, void:distinctSubjects/Objects,
    void:properties, plus one void:propertyPartition node per
    predicate) — emitted AS TRIPLES, so the description loads into
    the same store it describes.  The reference publishes dataset
    metadata next to its dumps; this is that habit restated in the
    vocabulary the LOD cloud actually uses.

    Shape: the scalar stats are one aggregate (count + three
    approx-free distinct counts, each a hash aggregate); the
    property partition is one predicate-keyed groupBy
    (dimension-sized output).  Counts are emitted as canonical
    xsd:integer literal strings — all-integer, engine-exact.

    Returns (subj, pred, obj) description triples.
    """
    ds = F.lit(dataset_uri)
    V = "http://rdfs.org/ns/void#"
    scalars = (triples.agg(
        F.count(F.lit(1)).cast("long").alias("nt"),
        F.countDistinct("subj").cast("long").alias("ns"),
        F.countDistinct("obj").cast("long").alias("no"),
        F.countDistinct("pred").cast("long").alias("np")))
    rows = []
    for col, prop in (("nt", "triples"), ("ns", "distinctSubjects"),
                      ("no", "distinctObjects"), ("np", "properties")):
        rows.append(scalars.select(
            ds.alias("subj"), F.lit(V + prop).alias("pred"),
            F.col(col).cast("string").alias("obj")))
    part = (triples.groupBy("pred")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
    pnode = F.concat(ds, F.lit("#prop-"), F.md5("pred"))
    parts = (part.select(ds.alias("subj"),
                         F.lit(V + "propertyPartition").alias("pred"),
                         pnode.alias("obj"))
             .unionByName(part.select(
                 pnode.alias("subj"),
                 F.lit(V + "property").alias("pred"),
                 F.col("pred").alias("obj")))
             .unionByName(part.select(
                 pnode.alias("subj"),
                 F.lit(V + "triples").alias("pred"),
                 F.col("n").cast("string").alias("obj"))))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.unionByName(parts)
