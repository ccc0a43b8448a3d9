"""Helpers shared by two or more query families: the corpus reads and
stage tables, the planted block graphs, and the oracle CTEs."""

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from ferenda_spark.corpus import load_pages
from ferenda_spark.pipeline import corpus_triples, parsed_docs


@functools.cache
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parsed corpus: parsed once per session and corpus."""
    return parsed_docs(load_pages(spark, sf_dir)).cache()


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_triples(spark, _docs(spark, sf_dir))


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = spark.read.parquet("%s/%s.parquet" % (sf_dir.rstrip("/"), table))
    # The sandbox parquet is one row-group -> one input split, which
    # would serialize every downstream expression onto a single core.
    # Production Iceberg layouts provide real splits (this is then a
    # no-op); here we spread explicitly, as load_pages does.
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def block_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root doc id ``b`` of every planted 20-doc block."""
    return (_read(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 20 == 0)
            .select(F.col("doc_id").alias("b")))


def block_edges(spark: SparkSession, sf_dir: str, pairs) -> DataFrame:
    """The planted per-block graph: one edge ``(b + i, b + j)`` as
    ``(doc_a, doc_b)`` per offset pair ``(i, j)``, for every block
    root ``b``, unioned in ``pairs`` order."""
    b = block_roots(spark, sf_dir)
    return functools.reduce(DataFrame.unionByName, [
        b.select((F.col("b") + i).alias("doc_a"),
                 (F.col("b") + j).alias("doc_b"))
        for i, j in pairs])


def _source_weights(spark):
    """Trust dimension: weight 1 + (source ordinal % 3)."""
    return spark.range(20).select(
        F.concat(F.lit("src"), "id").alias("source"),
        (1 + F.col("id") % 3).cast("long").alias("weight"))


# closed-form spec of the synthetic corpus (ferenda_spark/corpus.py)
_F_CTE = """
f AS (
  SELECT doc_id, text, lang, source,
         (CASE WHEN doc_id % 10 < 3 THEN 'https://hot.example.org/'
               ELSE 'https://example.org/' END)
           || 'docs/' || source || '/' || doc_id AS url,
         'https://example.org/res/doc/' || doc_id AS doc_uri,
         'Document ' || doc_id AS title,
         source || '-' || doc_id AS identifier,
         'https://example.org/res/org/pub' || (doc_id % 7) AS publisher_uri,
         strftime(DATE '2020-01-01' + INTERVAL ((doc_id * 37) % 1461) DAY,
                  '%Y-%m-%d') AS issued,
         'topic' || (doc_id % 11) AS subject,
         'https://example.org/res/entity/' || (doc_id % 50) AS entity_uri,
         CASE WHEN doc_id % 4 <> 0
              THEN 'https://example.org/res/doc/' || (doc_id - 1) END
           AS sameas_uri,
         1 + doc_id % 3 AS n_sections
  FROM documents
),
secs AS (
  SELECT *, unnest(generate_series(1, n_sections)) AS s FROM f
),
subs AS (SELECT * FROM secs WHERE (doc_id + s) % 2 = 1)
"""


_DOC_TRIPLES = """
doc_triples AS (
  SELECT doc_uri AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://purl.org/ontology/bibo/Document' AS obj,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/title', title,
         NULL, lang, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/identifier',
         identifier, NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/publisher',
         publisher_uri, NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/issued', issued,
         'http://www.w3.org/2001/XMLSchema#date', NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://purl.org/dc/terms/subject', subject,
         NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://www.w3.org/ns/prov#wasGeneratedBy',
         'ferenda_spark.WebPageRepo', NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://xmlns.com/foaf/0.1/page', url,
         NULL, NULL, url FROM f
  UNION ALL SELECT doc_uri, 'http://www.w3.org/2002/07/owl#sameAs',
         sameas_uri, NULL, NULL, url FROM f WHERE sameas_uri IS NOT NULL
)
"""


_SEC_TRIPLES = """
sec_triples AS (
  SELECT doc_uri || '#S' || s AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://purl.org/ontology/bibo/DocumentPart' AS obj,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM secs
  UNION ALL SELECT doc_uri || '#S' || s, 'http://purl.org/dc/terms/title',
         'Section ' || s, NULL, lang, url FROM secs
  UNION ALL SELECT doc_uri || '#S' || s, 'http://purl.org/dc/terms/isPartOf',
         doc_uri, NULL, NULL, url FROM secs
  UNION ALL SELECT doc_uri || '#S' || s, 'http://purl.org/ontology/bibo/chapter',
         CAST(s AS VARCHAR), NULL, NULL, url FROM secs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'http://purl.org/ontology/bibo/DocumentPart', NULL, NULL, url FROM subs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/dc/terms/title',
         'Subsection ' || s || '.1', NULL, lang, url FROM subs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/dc/terms/isPartOf',
         doc_uri || '#S' || s, NULL, NULL, url FROM subs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/ontology/bibo/chapter',
         s || '.1', NULL, NULL, url FROM subs
)
"""


_MENTION_TRIPLES = """
mention_triples AS (
  SELECT doc_uri || '#S' || s AS subj,
         'http://purl.org/dc/terms/references' AS pred,
         'https://example.org/res/rfc/' || (100 + (doc_id * 7 + s) % 900)
           AS obj,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM secs
  UNION ALL SELECT doc_uri || '#S' || s || '.1',
         'http://purl.org/dc/terms/references',
         'https://example.org/res/rfc/' || (100 + (doc_id * 11 + s) % 900)
           || '#S' || s, NULL, NULL, url FROM subs
)
"""


_ENTITY_TRIPLES = """
entity_triples AS (
  SELECT doc_uri AS subj, 'http://schema.org/mentions' AS pred,
         entity_uri AS obj, CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang, url AS context FROM f
)
"""


_ALL_TRIPLES_WITH = ("WITH " + _F_CTE + ", " + _DOC_TRIPLES + ", "
                     + _SEC_TRIPLES + ", " + _MENTION_TRIPLES + ", "
                     + _ENTITY_TRIPLES + """,
all_triples AS (
  SELECT * FROM doc_triples UNION ALL SELECT * FROM sec_triples
  UNION ALL SELECT * FROM mention_triples
  UNION ALL SELECT * FROM entity_triples
)""")


_FACETED_WITH = _ALL_TRIPLES_WITH + """,
faceted AS (
  SELECT doc_uri AS uri,
         'http://purl.org/ontology/bibo/Document' AS rdf_type,
         title AS dcterms_title, publisher_uri AS dcterms_publisher,
         issued AS dcterms_issued, subject AS dcterms_subject,
         identifier AS dcterms_identifier,
         CAST(substr(issued, 1, 4) AS INT) AS year
  FROM f
)"""


_TOKS_CTE = r"""
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS t, text
  FROM documents
)"""


# word-3-gram shingles (mirrors ferenda_spark.operators.dedup.shingles)
_SH_CTE = _TOKS_CTE + r""",
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 1))) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM idx WHERE length(array_to_string(t[i:i+2], ' ')) > 0
)"""


_MINHASH_CTE = _SH_CTE + r""",
sig AS (
  -- minhash_i = min over shingles of the i-th 8-hex slice of the
  -- 64-hex chain md5(s) || md5(md5(s)) (mirrors dedup._minhash_col)
  SELECT doc_id, s.seed,
         min(substr(md5(shingle) || md5(md5(shingle)),
                    8 * s.seed + 1, 8)) AS minhash
  FROM sh, generate_series(0, 7) s(seed) GROUP BY doc_id, s.seed
),
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         md5(array_to_string(list_sort(
           list(CAST(seed AS VARCHAR) || ':' || minhash)), '|')) AS bucket
  FROM sig GROUP BY doc_id, band
)"""


_EMB_CTE = """
e AS (
  SELECT vec_id, embedding AS raw,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""


def _sign_bucket_sql(col: str = "raw", n_bits: int = 8,
                     offset: int = 0) -> str:
    return ("(" + " + ".join(
        "(CASE WHEN %s[%d] > 0 THEN %d ELSE 0 END)"
        % (col, offset + i + 1, 1 << i)
        for i in range(n_bits)) + ")")


def _sign_bands_sql(col: str, bits_per_band: int, n_bands: int,
                    src: str = "e") -> str:
    """UNION ALL body mirroring similarity.sign_bucket_bands: one
    (vec_id, v, band, bucket) row per band."""
    return " UNION ALL ".join(
        "SELECT vec_id, v, %d AS band, %s AS bucket FROM %s"
        % (t, _sign_bucket_sql(col, bits_per_band, t * bits_per_band), src)
        for t in range(n_bands))
