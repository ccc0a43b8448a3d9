"""Storage-layout and snapshot queries (``store_*``)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.sketches import _h
from ferenda_spark.operators.store import (apply_patches, bloom_file_skipping,
                                           bucket_prune, compaction_plan,
                                           current_versions, expire_snapshots,
                                           hilbert_keys, mor_planning,
                                           next_archive_version,
                                           partition_evolution_scan,
                                           zonemap_prune, zonemap_stats,
                                           zorder_keys)
from ferenda_spark.registry import query
from ferenda_spark.registry.common import _F_CTE, _read


def _snapshot_manifests(spark, sf_dir):
    """Planted snapshot/manifest metadata: per source-table, 10
    snapshots (committed daily), snapshot s referencing the sliding
    window of files max(0, s-4)..s."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tables = (d.where(did < 200)
              .select(F.col("source").alias("tbl"),
                      F.expr("(doc_id div 20) % 10").alias("snap_id"))
              .distinct())
    snaps = tables.select(
        "tbl", "snap_id",
        (F.lit(1700000000) + F.col("snap_id") * 86400).cast("long")
        .alias("committed_at"))
    manifests = (snaps.select(
        "tbl", "snap_id",
        F.explode(F.sequence(
            F.greatest(F.lit(0), F.col("snap_id") - 4),
            F.col("snap_id"))).alias("file_seq"))
        .select("tbl", "snap_id",
                F.concat(F.col("tbl"), F.lit("-f"),
                         F.col("file_seq").cast("string"))
                .alias("file_id")))
    return snaps, manifests


# Morton interleave as plain SQL bit math (generated once so the
# oracle mirrors zorder_keys bit for bit)
_Z_TERMS = "((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2 + ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8 + ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32 + ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128 + ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512 + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048 + ((x >> 6) & 1) * 4096 + ((y >> 6) & 1) * 8192 + ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768"


def _hilbert_chain_sql(bits: int = 8) -> str:
    """Unrolled xy2d rotate/reflect chain (mirrors
    operators/store.hilbert_keys level by level)."""
    ctes = []
    prev = "base"
    for i, level in enumerate(range(bits - 1, -1, -1)):
        s = 1 << level
        rx = "((x >> %d) & 1)" % level
        ry = "((y >> %d) & 1)" % level
        ctes.append(
            "h%d AS MATERIALIZED (SELECT doc_id, "
            "CASE WHEN %s = 1 THEN x WHEN %s = 1 THEN %d - y "
            "ELSE y END AS x, "
            "CASE WHEN %s = 1 THEN y WHEN %s = 1 THEN %d - x "
            "ELSE x END AS y, "
            "d + %d * xor(%s * 3, %s) AS d FROM %s)"
            % (i, ry, rx, s - 1, ry, rx, s - 1,
               s * s, rx, ry, prev))
        prev = "h%d" % i
    return ", ".join(ctes), prev


@query("versioned_current", oracle="""
    WITH v AS (
      SELECT doc_id, 1 AS rev FROM documents
      UNION ALL
      SELECT doc_id, 2 FROM documents WHERE doc_id % 5 = 0),
    u AS (SELECT doc_id, rev, doc_id*10 + rev AS updated FROM v)
    SELECT doc_id, rev, updated,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY updated DESC) AS version_rank,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY updated DESC) = 1 AS is_current
    FROM u""")
def _q_versioned_current(spark, sf_dir):
    """W2/S3: current-vs-archived resolution over a deterministic
    two-version subset (docs with doc_id%5==0 get a rev 2)."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    v1 = d.withColumn("rev", F.lit(1))
    v2 = (d.where(F.col("doc_id") % 5 == 0).withColumn("rev", F.lit(2)))
    versions = v1.unionByName(v2).withColumn(
        "updated", F.col("doc_id") * 10 + F.col("rev"))
    return current_versions(versions, "doc_id", "updated").select(
        "doc_id", "rev", "updated", "version_rank", "is_current")


@query("next_archive_version", oracle="""
    WITH v AS (
      SELECT doc_id FROM documents
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
    SELECT doc_id, COUNT(*) AS n_versions,
           COUNT(*) + 1 AS next_version
    FROM v GROUP BY doc_id""")
def _q_next_archive_version(spark, sf_dir):
    """W4: next archive version id = count(existing) + 1."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    versions = d.unionByName(d.where(F.col("doc_id") % 5 == 0))
    return next_archive_version(versions, "doc_id")


@query("patched_docs", oracle="""
    SELECT doc_id,
           md5(CASE WHEN doc_id % 10 = 0
               THEN replace(text, 'the', 'THE')
               ELSE text END) AS text_md5,
           doc_id % 10 = 0 AS patched
    FROM documents""")
def _q_patched_docs(spark, sf_dir):
    """P7: broadcast patch dimension applied before parse
    (patch_if_needed semantics)."""
    d = _read(spark, sf_dir, "documents")
    patches = (d.where(F.col("doc_id") % 10 == 0)
               .select(F.col("doc_id").alias("pk"),
                       F.lit("the").alias("find"),
                       F.lit("THE").alias("replace")))
    out = apply_patches(d.withColumn("pk", F.col("doc_id")), patches,
                        key_col="pk", text_col="text")
    return out.select("doc_id", F.md5("text").alias("text_md5"), "patched")


# verbatim bit-math mirror of the Morton interleave
@query("store_zorder_layout", oracle="""
    WITH d AS (SELECT doc_id, doc_id % 256 AS x,
                      (doc_id * 7 + 3) % 256 AS y
               FROM documents)
    SELECT doc_id, x, y, (""" + _Z_TERMS + """) AS zvalue,
           (""" + _Z_TERMS + """) >> 12 AS zbucket
    FROM d ORDER BY doc_id""")
def _q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering keys over two 8-bit closed-form
    dimensions (doc_id%256, (doc_id*7+3)%256) with 16 buckets — the
    two-dimensional file-pruning layout; bit math mirrored verbatim
    in the oracle."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    df = d.select("doc_id", (did % 256).alias("x"),
                  ((did * 7 + 3) % 256).alias("y"))
    return (zorder_keys(df, "x", "y", bits=8, bucket_bits=4)
            .orderBy("doc_id"))


# compaction: preceding-small-bytes window + floor division
@query("store_compaction_plan", oracle="""
    WITH files AS (
      SELECT source, doc_id AS file_id,
             n_chars AS size_bytes,
             n_chars < 400 AS small
      FROM documents),
    c AS (
      SELECT source, file_id, size_bytes, small,
             COALESCE(SUM(CASE WHEN small THEN size_bytes
                          ELSE 0 END) OVER (
               PARTITION BY source ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS prev_small
      FROM files)
    SELECT source, file_id,
           CAST(size_bytes AS BIGINT) AS size_bytes,
           CASE WHEN small THEN 'rewrite' ELSE 'keep' END
             AS action,
           CAST(CASE WHEN small THEN prev_small // 1000
                ELSE -1 END AS BIGINT) AS bin
    FROM c ORDER BY source, file_id""")
def _q_store_compaction_plan(spark, sf_dir):
    """Small-file compaction plan over a per-source file manifest
    (file = doc, size = n_chars; threshold 400 B so both branches are
    exercised, target 1000 B): first-fit-on-cumulative-sum binning
    per partition; the oracle replays the preceding-small-bytes
    window and the floor division."""
    files = (_read(spark, sf_dir, "documents")
             .select("source", F.col("doc_id").alias("file_id"),
                     F.col("n_chars").alias("size_bytes")))
    return (compaction_plan(files, key_cols=["source"],
                            target_bytes=1000, small_threshold=400)
            .orderBy("source", "file_id"))


@query("store_zonemap_prune", oracle="""
    WITH rows_ AS (
      SELECT doc_id, (doc_id * 37) % 1461 AS v FROM documents),
    both_ AS (
      SELECT 'ingest' AS layout,
             'ingest-' || (doc_id // 50) AS file_id, v
      FROM rows_
      UNION ALL
      SELECT 'clustered', 'date-' || (v // 150), v FROM rows_),
    st AS (
      SELECT layout, file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(v) AS BIGINT) AS min_value,
             CAST(MAX(v) AS BIGINT) AS max_value
      FROM both_ GROUP BY layout, file_id)
    SELECT layout, file_id, n_rows, min_value, max_value,
           CAST(CASE WHEN max_value >= 300 AND min_value <= 450
                THEN 1 ELSE 0 END AS BIGINT) AS overlaps,
           CAST(CASE WHEN max_value >= 300 AND min_value <= 450
                THEN 0 ELSE 1 END AS BIGINT) AS pruned
    FROM st ORDER BY layout, file_id""")
def _q_store_zonemap_prune(spark, sf_dir):
    """Zone-map pruning measured across two physical layouts of the
    SAME rows: ingest-order files (value spread everywhere, nothing
    prunes) vs date-clustered files (predicate skips most files).
    The manifest aggregate + disjointness test are replayed
    closed-form by the oracle."""
    d = _read(spark, sf_dir, "documents")
    day = ((F.col("doc_id") * 37) % 1461).cast("long")
    ingest = d.select(
        F.concat(F.lit("ingest-"),
                 F.expr("doc_id div 50").cast("string"))
        .alias("file_id"), day.alias("v"))
    clustered = d.select(
        F.concat(F.lit("date-"),
                 F.expr("((doc_id * 37) % 1461) div 150")
                 .cast("string")).alias("file_id"), day.alias("v"))
    out = []
    for label, df in [("ingest", ingest), ("clustered", clustered)]:
        st = zonemap_stats(df, "file_id", "v")
        out.append(zonemap_prune(st, 300, 450)
                   .select(F.lit(label).alias("layout"), "*"))
    return out[0].unionByName(out[1]).orderBy("layout", "file_id")


# identical md5 bit chain as operators/store.bloom_file_skipping
@query("store_bloom_skipping", oracle="WITH " + _F_CTE + """,
    fk AS (SELECT DISTINCT doc_id // 50 AS fl, url AS key
           FROM f),
    probes AS (
      SELECT url AS probe FROM f WHERE doc_id % 100 = 7
      UNION
      SELECT 'https://absent.example.org/' || doc_id
      FROM documents WHERE doc_id < 10),
    bits AS (SELECT DISTINCT fl,
                    CAST(('0x' || substr(md5('bloom' || i
                      || ':' || key), 1, 8)) AS BIGINT) % 256
                      AS bit
             FROM fk, (SELECT unnest(generate_series(0, 2))
                       AS i)),
    pb AS (SELECT DISTINCT probe,
                  CAST(('0x' || substr(md5('bloom' || i
                    || ':' || probe), 1, 8)) AS BIGINT) % 256
                    AS bit
           FROM probes, (SELECT unnest(generate_series(0, 2))
                         AS i)),
    keff AS (SELECT probe, COUNT(DISTINCT bit) AS k_eff
             FROM pb GROUP BY probe),
    hits AS (SELECT probe, fl,
                    COUNT(DISTINCT pb.bit) AS n_set
             FROM bits JOIN pb USING (bit)
             GROUP BY probe, fl),
    scanned AS (SELECT probe,
                       CAST(COUNT(*) AS BIGINT) AS n_scanned
                FROM hits JOIN keff USING (probe)
                WHERE n_set = k_eff GROUP BY probe),
    truth AS (SELECT key AS probe,
                     CAST(COUNT(*) AS BIGINT) AS n_matching
              FROM fk WHERE key IN (SELECT probe FROM probes)
              GROUP BY key),
    nf AS (SELECT CAST(COUNT(DISTINCT fl) AS BIGINT)
             AS n_files FROM fk)
    SELECT p.probe, nf.n_files,
           CAST(COALESCE(s.n_scanned, 0) AS BIGINT)
             AS n_scanned,
           CAST(COALESCE(t.n_matching, 0) AS BIGINT)
             AS n_matching,
           CAST(COALESCE(s.n_scanned, 0)
                - COALESCE(t.n_matching, 0) AS BIGINT)
             AS n_false_positive
    FROM probes p
    CROSS JOIN nf
    LEFT JOIN scanned s ON p.probe = s.probe
    LEFT JOIN truth t ON p.probe = t.probe
    ORDER BY p.probe""")
def _q_store_bloom_skipping(spark, sf_dir):
    """Per-file Bloom skipping index (k=3, m=256 portable md5 bits)
    over 50-doc files, probed with 5 present urls and 10 absent
    ones: point-lookup file pruning for the unclustered key a
    zonemap can't help with, false-positive scan cost reported per
    probe."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"),
        did.cast("string"))
    docs = d.select("doc_id", url.alias("url"))
    rows = docs.select(F.expr("doc_id div 50").alias("file_id"),
                       "url")
    present = docs.where(did % 100 == 7).select(
        F.col("url").alias("probe"))
    absent = (d.where(did < 10)
              .select(F.concat(F.lit("https://absent.example.org/"),
                               did.cast("string")).alias("probe")))
    return (bloom_file_skipping(rows, present.unionByName(absent))
            .orderBy("probe"))


@query("store_hilbert_layout", oracle=(lambda chain: """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS x,
             CAST((doc_id * 7 + 3) % 256 AS BIGINT) AS y,
             CAST(0 AS BIGINT) AS d
      FROM documents), """ + chain[0] + """
    SELECT b.doc_id, b.x, b.y,
           CAST(f.d AS BIGINT) AS hvalue,
           CAST(f.d >> 12 AS BIGINT) AS hbucket
    FROM base b JOIN """ + chain[1] + """ f USING (doc_id)
    ORDER BY b.doc_id""")(_hilbert_chain_sql(8)))
def _q_store_hilbert_layout(spark, sf_dir):
    """Hilbert-curve clustering keys over the same two 8-bit
    dimensions as store_zorder_layout (16 buckets) — the
    locality-optimal 2-D layout; the oracle replays the full 8-level
    rotate/reflect chain."""
    d = _read(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    df = d.select("doc_id", (did % 256).alias("x"),
                  ((did * 7 + 3) % 256).alias("y"))
    return (hilbert_keys(df, "x", "y", bits=8, bucket_bits=4)
            .orderBy("doc_id"))


@query("store_expire_snapshots", oracle="""
    WITH tbls AS (
      SELECT DISTINCT source AS tbl,
             (doc_id // 20) % 10 AS snap_id
      FROM documents WHERE doc_id < 200),
    snaps AS (SELECT tbl, snap_id,
                     1700000000 + snap_id * 86400
                       AS committed_at
              FROM tbls),
    mf AS (SELECT tbl, snap_id, tbl || '-f' || fs AS file_id
           FROM (SELECT tbl, snap_id,
                        unnest(generate_series(
                          greatest(0, snap_id - 4), snap_id))
                          AS fs
                 FROM snaps)),
    marked AS (SELECT tbl, snap_id,
                      row_number() OVER (PARTITION BY tbl
                        ORDER BY committed_at DESC,
                                 snap_id DESC) <= 3
                        AS retained
               FROM snaps),
    pf AS (SELECT tbl, file_id,
                  CAST(COUNT(*) AS BIGINT) AS n_refs,
                  CAST(SUM(CASE WHEN retained THEN 0 ELSE 1
                            END) AS BIGINT)
                    AS n_expired_refs,
                  MAX(retained) AS live
           FROM mf JOIN marked USING (tbl, snap_id)
           GROUP BY tbl, file_id)
    SELECT tbl, file_id,
           CASE WHEN live THEN 'keep' ELSE 'delete' END
             AS action,
           n_refs, n_expired_refs
    FROM pf ORDER BY tbl, file_id""")
def _q_store_expire_snapshots(spark, sf_dir):
    """Iceberg-style snapshot expiry: keep the newest 3 snapshots
    per table, delete data files reachable ONLY from expired
    snapshots (the reachability anti-join every table-maintenance
    vacuum runs)."""
    snaps, manifests = _snapshot_manifests(spark, sf_dir)
    return (expire_snapshots(snaps, manifests, keep_last=3)
            .orderBy("tbl", "file_id"))


# identical md5 bucket hash; manifest aggregated per
# (bucket, file); probes map to exactly one bucket
@query("store_bucket_prune", oracle="WITH " + _F_CTE + """,
    rows_ AS (
      SELECT url,
             CAST(('0x' || substr(md5('bucket:' || url),
                  1, 8)) AS BIGINT) % 16 AS bucket,
             (CAST(('0x' || substr(md5('bucket:' || url),
                  1, 8)) AS BIGINT) % 16) || '-'
               || (doc_id % 3) AS f
      FROM f),
    manifest AS (SELECT bucket, f,
                        CAST(COUNT(*) AS BIGINT) AS n_rows
                 FROM rows_ GROUP BY bucket, f),
    pbk AS (SELECT bucket,
                   CAST(COUNT(*) AS BIGINT)
                     AS n_files_scanned,
                   CAST(SUM(n_rows) AS BIGINT)
                     AS n_rows_scanned
            FROM manifest GROUP BY bucket),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files_total
            FROM manifest),
    probes AS (
      SELECT url AS probe FROM f WHERE doc_id % 97 = 5
      UNION ALL
      SELECT 'https://absent.example.org/' || doc_id
      FROM documents WHERE doc_id < 5),
    pb AS (SELECT probe,
                  CAST(('0x' || substr(md5('bucket:'
                    || probe), 1, 8)) AS BIGINT) % 16
                    AS bucket
           FROM probes),
    mt AS (SELECT url AS probe,
                  CAST(COUNT(*) AS BIGINT)
                    AS n_matching_rows
           FROM rows_
           WHERE url IN (SELECT probe FROM probes)
           GROUP BY url)
    SELECT pb.probe, pb.bucket, tot.n_files_total,
           CAST(COALESCE(pbk.n_files_scanned, 0) AS BIGINT)
             AS n_files_scanned,
           CAST(COALESCE(pbk.n_rows_scanned, 0) AS BIGINT)
             AS n_rows_scanned,
           CAST(COALESCE(mt.n_matching_rows, 0) AS BIGINT)
             AS n_matching_rows
    FROM pb
    CROSS JOIN tot
    LEFT JOIN pbk ON pb.bucket = pbk.bucket
    LEFT JOIN mt ON pb.probe = mt.probe
    ORDER BY pb.probe""")
def _q_store_bucket_prune(spark, sf_dir):
    """Iceberg bucket(16, url) partition pruning: 3 files per
    bucket, point probes (5 present urls + 5 absent) each scan one
    bucket's files instead of the whole manifest."""
    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 10 < 3, F.lit("https://hot.example.org/"))
        .otherwise(F.lit("https://example.org/")),
        F.lit("docs/"), F.col("source"), F.lit("/"),
        did.cast("string"))
    b = _h(url, "bucket") % 16
    rows = d.select(url.alias("url"),
                    F.concat(b.cast("string"), F.lit("-"),
                             (did % 3).cast("string"))
                    .alias("file_id"))
    probes = (d.where(did % 97 == 5)
              .select(url.alias("probe"))
              .unionByName(
                  d.where(did < 5)
                  .select(F.concat(F.lit("https://absent.example.org/"),
                                   did.cast("string")).alias("probe"))))
    return bucket_prune(rows, probes).orderBy("probe")


@query("store_partition_evolution", oracle="""
    WITH rows_ AS (
      SELECT CAST((doc_id * 7) % 2000 AS BIGINT) AS th
      FROM documents),
    manifest AS (
      SELECT CASE WHEN th >= 1000 THEN 'hour' ELSE 'day' END
               AS spec,
             CAST(CASE WHEN th >= 1000 THEN th
                  ELSE th // 24 END AS BIGINT)
               AS partition_key,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM rows_ GROUP BY 1, 2)
    SELECT spec, partition_key, n_rows,
           CAST(CASE WHEN spec = 'day'
                THEN partition_key * 24
                ELSE partition_key END AS BIGINT) AS lo_hour,
           CAST(CASE WHEN spec = 'day'
                THEN partition_key * 24 + 24
                ELSE partition_key + 1 END AS BIGINT)
             AS hi_hour,
           (CASE WHEN spec = 'day' THEN partition_key * 24
                 ELSE partition_key END) < 1010
           AND (CASE WHEN spec = 'day'
                THEN partition_key * 24 + 24
                ELSE partition_key + 1 END) > 990
             AS scanned
    FROM manifest ORDER BY spec, partition_key""")
def _q_store_partition_evolution(spark, sf_dir):
    """Mixed-spec scan planning: rows before hour 1000 partition by
    DAY (old spec), after by HOUR (evolved spec); the [990, 1010)
    query scans wide day files at the left edge and narrow hour
    files on the right — per-file pruning under each file's own
    spec."""
    d = _read(spark, sf_dir, "documents")
    rows = d.select(((F.col("doc_id") * 7) % 2000).cast("long")
                    .alias("ts_hour"))
    return (partition_evolution_scan(rows, cutover_hour=1000,
                                     query_lo=990, query_hi=1010)
            .orderBy("spec", "partition_key"))


@query("store_mor_planning", oracle="""
    WITH files AS (
      SELECT 'f' || (doc_id // 50) AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY 1),
    ks AS (SELECT DISTINCT doc_id // 50 AS k
           FROM documents),
    dels AS (
      SELECT 'f' || k AS file_id, (k * 7) % 40 AS n_deleted
      FROM ks WHERE (k * 7) % 40 > 0
      UNION ALL
      SELECT 'f' || k, (k * 3) % 10 FROM ks
      WHERE (k * 3) % 10 > 0),
    dm AS (SELECT file_id,
                  CAST(SUM(n_deleted) AS BIGINT) AS n_deleted
           FROM dels GROUP BY file_id),
    base AS (SELECT f.file_id, f.n_rows,
                    CAST(COALESCE(dm.n_deleted, 0) AS BIGINT)
                      AS n_deleted
             FROM files f LEFT JOIN dm USING (file_id))
    SELECT file_id, n_rows, n_deleted,
           CAST(n_rows - n_deleted AS BIGINT) AS live_rows,
           CAST(n_deleted * 1000 // n_rows AS BIGINT)
             AS deleted_permille,
           CASE WHEN n_deleted * 1000 // n_rows >= 300
                THEN 'rewrite' ELSE 'keep' END AS action
    FROM base ORDER BY file_id""")
def _q_store_mor_planning(spark, sf_dir):
    """Merge-on-read maintenance plan: 50-row files, two planted
    positional-delete entries per file; files past 30% masked rows
    get a copy-on-write rewrite."""
    d = _read(spark, sf_dir, "documents")
    fid = F.expr("doc_id div 50")
    files = (d.groupBy(F.concat(F.lit("f"), fid.cast("string"))
                       .alias("file_id"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    ks = (d.select(fid.alias("k")).distinct())
    deletes = (ks.select(
        F.concat(F.lit("f"), F.col("k").cast("string"))
        .alias("file_id"),
        ((F.col("k") * 7) % 40).alias("n_deleted"))
        .unionByName(ks.select(
            F.concat(F.lit("f"), F.col("k").cast("string"))
            .alias("file_id"),
            ((F.col("k") * 3) % 10).alias("n_deleted")))
        .where(F.col("n_deleted") > 0))
    return (mor_planning(files, deletes).orderBy("file_id"))
