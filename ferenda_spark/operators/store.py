"""Document-store semantics: versioned archive + patching.

* :func:`current_versions` — W2 "current vs archived" resolution
  (list_versions/archive, documentstore.py:462-512, 605-637): latest
  row per key wins; older rows are the archive.
* :func:`next_archive_version` — W4 next version id =
  count(existing versions) (get_archive_version,
  documentrepository.py:605-621).
* :func:`apply_patches` — P7 patch-before-parse (patch_if_needed,
  documentrepository.py:1277-1326).  The reference applies unified
  diffs per document; the Spark restatement broadcast-joins a small
  (key, find, replace) patch dimension and rewrites the text column —
  patches are corrections curated by hand, so the dimension is always
  broadcast-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..rowmap import map_rows


def current_versions(df: DataFrame, key_col: str, ts_col: str,
                     tiebreak: str | None = None) -> DataFrame:
    """Add (version_rank, is_current): rank 1 = newest per key."""
    order = [F.col(ts_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (df.withColumn("version_rank", F.row_number().over(w))
            .withColumn("is_current", F.col("version_rank") == 1))


def next_archive_version(df: DataFrame, key_col: str) -> DataFrame:
    """(key, next_version): id the next archived copy would get."""
    return (df.groupBy(key_col)
            .agg(F.count("*").alias("n_versions"))
            .withColumn("next_version", F.col("n_versions") + 1))


def apply_patches(df: DataFrame, patches: DataFrame, key_col: str = "url",
                  text_col: str = "text") -> DataFrame:
    """Broadcast-join the patch dimension and apply (find -> replace)
    to the text column; unpatched rows pass through.  Adds `patched`
    bool (the reference logs a patchdescription the same way).

    Patches are aggregated to ONE array per key before the join — the
    reference applies a single unified diff per document, so multiple
    patch rows compose (applied in sorted (find, replace) order, a
    deterministic fold) instead of silently duplicating the document
    row once per patch."""
    p = F.broadcast(
        patches.groupBy(F.col(key_col).alias("_pk"))
        .agg(F.array_sort(F.collect_list(F.struct("find", "replace")))
             .alias("_patches")))
    joined = df.join(p, df[key_col] == F.col("_pk"), "left")
    patched_text = F.when(
        F.col("_patches").isNotNull(),
        F.aggregate("_patches", F.col(text_col),
                    lambda acc, pt: F.replace(acc, pt["find"],
                                              pt["replace"]))
    ).otherwise(F.col(text_col))
    return (joined
            .withColumn(text_col, patched_text)
            .withColumn("patched", F.col("_patches").isNotNull())
            .drop("_pk", "_patches"))


def make_patches(original: DataFrame, edited: DataFrame,
                 key_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """The authoring half of the patch workflow (reference devel.py
    ``mkpatch``: diff a hand-edited intermediate against the stored
    original and save the patch; :func:`apply_patches` is the replay
    half): emit the (key, find, replace) patch dimension such that
    ``apply_patches(original, make_patches(original, edited))``
    reproduces ``edited`` exactly.

    Per-document diffing is inherently row-local Python (difflib), so
    it runs in the sanctioned ``map_rows`` row-mapper lane; the
    edited set is review-sized (patches are hand-made), not
    corpus-sized.  Each changed span is expanded with context until
    its ``find`` string is UNIQUE in the original — string replace
    applies every occurrence, so uniqueness is what makes the
    roundtrip exact (the unified-diff analogue of context lines)."""
    import difflib

    def _spans(orig: str, edit: str):
        sm = difflib.SequenceMatcher(a=orig, b=edit, autojunk=False)
        ops = sm.get_opcodes()

        def origin_to_edit(p):
            # map an orig position lying in an equal block (or at the
            # text ends) to its edit-side twin
            if p == 0:
                return 0
            if p == len(orig):
                return len(edit)
            for tag, i1, i2, j1, j2 in ops:
                if tag == "equal" and i1 <= p <= i2:
                    return j1 + (p - i1)
            return None

        # group consecutive non-equal opcodes into change windows
        raw = []
        for tag, i1, i2, j1, j2 in ops:
            if tag == "equal":
                continue
            if raw and i1 <= raw[-1][1]:
                raw[-1][1] = max(raw[-1][1], i2)
            else:
                raw.append([i1, i2])
        # expand each window with context (always snapping to equal
        # material, so both ends stay mappable) until the find string
        # is unique in the original
        windows = []
        for lo, hi in raw:
            ctx = 8
            while True:
                xlo = lo - ctx if lo - ctx > 0 else 0
                xhi = hi + ctx if hi + ctx < len(orig) else len(orig)
                if (origin_to_edit(xlo) is not None
                        and origin_to_edit(xhi) is not None
                        and orig.count(orig[xlo:xhi]) == 1):
                    windows.append([xlo, xhi])
                    break
                if xlo == 0 and xhi == len(orig):
                    return [(orig, edit)]      # whole-text fallback
                ctx += 8
        # merge overlapping expanded windows (ends remain mappable)
        merged = []
        for lo, hi in sorted(windows):
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        out = []
        for lo, hi in merged:
            elo, ehi = origin_to_edit(lo), origin_to_edit(hi)
            find = orig[lo:hi]
            if elo is None or ehi is None or orig.count(find) != 1:
                return [(orig, edit)]          # whole-text fallback
            out.append((find, edit[elo:ehi]))
        # apply_patches folds patches in sorted (find, replace) order
        # with plain string replace — simulate that fold here and fall
        # back to one whole-text patch if any interaction (e.g. a
        # replacement reintroducing another find) breaks exactness
        acc = orig
        for find, repl in sorted(out):
            acc = acc.replace(find, repl)
        if acc != edit:
            return [(orig, edit)]
        return out

    def row(key, orig, edit):
        if orig == edit:
            return []
        return [(key, find, repl) for find, repl in _spans(orig, edit)]

    joined = (original
              .select(F.col(key_col).alias("_k"),
                      F.col(text_col).alias("_o"))
              .join(edited.select(F.col(key_col).alias("_k"),
                                  F.col(text_col).alias("_e")), "_k"))
    return map_rows(joined, row,
                    "%s string, find string, replace string" % key_col)


def zorder_keys(df: DataFrame, col_a: str, col_b: str,
                bits: int = 8, bucket_bits: int = 4) -> DataFrame:
    """Z-order (Morton) clustering keys over two integer dimensions —
    the multi-dimensional file-clustering layout big-table engines
    use (Delta OPTIMIZE ZORDER BY, Iceberg sort-order z-curves) so
    that range predicates on EITHER dimension prune files.  The
    reference's store is pruned only by its one-dimensional directory
    scheme (documentstore.py path layout); at 10^12 rows a second
    pruning dimension (e.g. crawl date × domain bucket) is what keeps
    a needle query from scanning the corpus.

    Inputs must already be normalized to [0, 2^bits) (callers bucket
    hashes or ranks; integer inputs are masked to ``bits``).  Adds:

    * ``zvalue`` — bit-interleaved Morton code (col_a takes the even
      bit positions starting at 0, col_b the odd),
    * ``zbucket`` — the top ``bucket_bits`` of the code = the file /
      partition assignment.

    Pure bit expressions (shiftleft/or), map-side, no shuffle — the
    write path's ``repartitionByRange(zbucket)`` is the only
    exchange, exactly one, and the SQL oracle mirrors the bit math
    verbatim.
    """
    mask = (1 << bits) - 1
    a = F.col(col_a).cast("long").bitwiseAND(F.lit(mask))
    b = F.col(col_b).cast("long").bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)) \
             .bitwiseOR(F.shiftleft(bbit, 2 * i + 1))
    return (df
            .withColumn("zvalue", z)
            .withColumn("zbucket",
                        F.shiftright(F.col("zvalue"),
                                     2 * bits - bucket_bits)))


def compaction_plan(files: DataFrame, key_cols: list = None,
                    file_col: str = "file_id",
                    size_col: str = "size_bytes",
                    target_bytes: int = 128 * 1024 * 1024,
                    small_threshold: int = None) -> DataFrame:
    """Small-file compaction plan (the Iceberg/Delta table-maintenance
    step: a 100 TB table accumulates thousands of sub-target data
    files per partition from incremental commits, and scan cost is
    per-file).  Files below ``small_threshold`` (default: the target
    size) are packed into rewrite bins of ~``target_bytes`` by a
    first-fit-on-cumulative-sum rule: within a partition, ordered by
    file id, ``bin = floor(preceding_small_bytes / target)`` — a
    deterministic one-pass plan (no driver-side bin packing, no
    global sort).  Files at or above the threshold are kept as-is.

    Scale shape: the file manifest is metadata (millions of rows, not
    the data itself); one window per partition key orders each
    partition's manifest slice, which is exactly how the real
    RewriteDataFiles action plans per partition.

    Returns (key..., file_id, size_bytes, action, bin): action
    'rewrite' with a 0-based bin, or 'keep' with bin -1."""
    key_cols = key_cols or ["source"]
    if small_threshold is None:
        small_threshold = target_bytes
    small = F.col(size_col) < small_threshold
    w = (Window.partitionBy(*key_cols).orderBy(file_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    prev_small = F.coalesce(
        F.sum(F.when(small, F.col(size_col)).otherwise(0)).over(w),
        F.lit(0))
    return files.select(
        *key_cols, file_col, size_col,
        F.when(small, F.lit("rewrite")).otherwise(F.lit("keep"))
        .alias("action"),
        F.when(small, F.floor(prev_small / target_bytes))
        .otherwise(F.lit(-1)).cast("long").alias("bin"))


def zonemap_stats(df: DataFrame, file_col: str,
                  value_col: str) -> DataFrame:
    """Per-file zone maps (min/max/rowcount for one column) — the
    metadata every columnar format keeps per data file (Parquet
    row-group statistics, Iceberg manifests, ORC stripe stats) and
    the thing that makes predicate pushdown skip I/O: a range
    predicate that cannot overlap [min, max] never opens the file.

    One hash aggregate keyed on the file id; the manifest output is
    metadata-sized (files, not rows), which is what makes pruning
    evaluation driver-cheap at 100 TB.

    Returns (file_id, n_rows, min_value, max_value).
    """
    return (df.groupBy(F.col(file_col).alias("file_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.min(value_col).alias("min_value"),
                 F.max(value_col).alias("max_value")))


def zonemap_prune(stats: DataFrame, lo, hi) -> DataFrame:
    """Evaluate a closed range predicate ``value BETWEEN lo AND hi``
    against zone maps: a file is PRUNED when its [min, max] interval
    is disjoint from [lo, hi].  This is the skip decision itself —
    the reason data layout (kg: store_zorder_layout, compaction) is
    a performance feature: the same predicate over the same rows
    prunes nothing under ingest-order layout and nearly everything
    under value-clustered layout, and this operator is how you
    MEASURE that, per layout, from the manifest alone.

    Returns stats + (overlaps, pruned) as 0/1 longs.
    """
    ov = (F.col("max_value") >= F.lit(lo)) & \
         (F.col("min_value") <= F.lit(hi))
    return stats.select(
        "file_id", "n_rows", "min_value", "max_value",
        ov.cast("long").alias("overlaps"),
        (~ov).cast("long").alias("pruned"))


def bloom_file_skipping(rows: DataFrame, probes: DataFrame,
                        file_col: str = "file_id",
                        key_col: str = "url",
                        probe_col: str = "probe",
                        k: int = 3, m: int = 256) -> DataFrame:
    """Per-file Bloom-filter skipping index for POINT lookups — the
    layout lever zone maps cannot provide: a zonemap prunes range
    predicates on clustered columns, a per-file Bloom prunes
    equality predicates on UNclustered high-cardinality keys (url /
    entity id), which is exactly the Parquet `bloom_filter_enabled` /
    Iceberg puffin-blob mechanism.  This operator builds the index
    AND evaluates a probe workload against it, reporting per probe
    how many files a point query scans vs. truly contains the key
    (the surplus is the false-positive scan cost).

    Shape: distinct (file, key) -> k-way hash explode -> distinct
    (file, bit): the index is metadata-sized (n_files x <= m rows)
    like a real footer index.  The probe side is dimension-sized and
    broadcasts; truth comes from one semi-join against the distinct
    (file, key) table.  All hashes are the portable md5 prefix.

    Returns (probe, n_files, n_scanned, n_matching,
    n_false_positive)."""
    from .sketches import _h
    fk = (rows.select(F.col(file_col).alias("f"),
                      F.col(key_col).alias("key")).distinct()
          .localCheckpoint())
    bits = None
    for i in range(k):
        r = fk.select("f", (_h(F.col("key"), "bloom%d" % i) % m)
                      .alias("bit"))
        bits = r if bits is None else bits.unionByName(r)
    bits = bits.distinct()
    pb = None
    for i in range(k):
        r = probes.select(F.col(probe_col).alias("probe"),
                          (_h(F.col(probe_col), "bloom%d" % i) % m)
                          .alias("bit"))
        pb = r if pb is None else pb.unionByName(r)
    hits = (bits.join(F.broadcast(pb), "bit")
            .groupBy("probe", "f")
            .agg(F.countDistinct("bit").alias("n_set")))
    # distinct probe bits can collide (< k distinct positions); a
    # file scans when every DISTINCT probe bit is present
    pbits = pb.groupBy("probe").agg(
        F.countDistinct("bit").alias("k_eff"))
    scanned = (hits.join(F.broadcast(pbits), "probe")
               .where(F.col("n_set") == F.col("k_eff"))
               .groupBy("probe")
               .agg(F.count(F.lit(1)).cast("long").alias("n_scanned")))
    truth = (fk.join(F.broadcast(
        probes.select(F.col(probe_col).alias("key")).distinct()),
        "key")
        .groupBy(F.col("key").alias("probe"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching")))
    nf = fk.select("f").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_files"))
    return (probes.select(F.col(probe_col).alias("probe")).distinct()
            .crossJoin(F.broadcast(nf))
            .join(scanned, "probe", "left")
            .join(truth, "probe", "left")
            .select("probe", "n_files",
                    F.coalesce("n_scanned", F.lit(0)).cast("long")
                    .alias("n_scanned"),
                    F.coalesce("n_matching", F.lit(0)).cast("long")
                    .alias("n_matching"),
                    (F.coalesce("n_scanned", F.lit(0))
                     - F.coalesce("n_matching", F.lit(0)))
                    .cast("long").alias("n_false_positive")))


def hilbert_keys(df: DataFrame, col_a: str, col_b: str,
                 bits: int = 8, bucket_bits: int = 4) -> DataFrame:
    """Hilbert-curve clustering keys over two integer dimensions —
    the layout that strictly beats Z-order on locality (every
    consecutive pair of curve cells is grid-adjacent, so a 2-D range
    query touches fewer file runs; this is why Databricks liquid
    clustering and Iceberg's hilbert sort-order exist alongside
    z-order).  Same contract as :func:`zorder_keys`: inputs already
    in [0, 2^bits); adds ``hvalue`` (curve position, 2*bits bits)
    and ``hbucket`` (top ``bucket_bits`` = file assignment).

    The standard xy2d transform (one rotate/reflect per bit level)
    unrolls driver-side into ``bits`` levels of pure bit algebra —
    map-side, no shuffle, whole-stage codegen; the SQL oracle replays
    the identical chain level by level.  Intermediate x/y may go
    negative mid-chain (the canonical algorithm's two's-complement
    trick); both engines' arithmetic shift/AND agree there, which the
    adjacency pytest pins."""
    mask = (1 << bits) - 1
    cols = df.columns
    out = df.select(
        *cols,
        F.col(col_a).cast("long").bitwiseAND(F.lit(mask))
        .alias("__hx"),
        F.col(col_b).cast("long").bitwiseAND(F.lit(mask))
        .alias("__hy"),
        F.lit(0).cast("long").alias("__hd"))
    for level in range(bits - 1, -1, -1):
        # one projection per level: x/y feed the next level TWICE, so
        # a single nested expression would blow up 2^bits — aliased
        # levels keep the tree linear (CollapseProject leaves
        # multiply-referenced non-cheap aliases alone)
        s = 1 << level
        x, y, d = F.col("__hx"), F.col("__hy"), F.col("__hd")
        rx = F.shiftright(x, level).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, level).bitwiseAND(F.lit(1))
        nd = d + F.lit(s * s) * (rx * 3).bitwiseXOR(ry)
        nx = F.when(ry == 1, x).otherwise(
            F.when(rx == 1, F.lit(s - 1) - y).otherwise(y))
        ny = F.when(ry == 1, y).otherwise(
            F.when(rx == 1, F.lit(s - 1) - x).otherwise(x))
        out = out.select(*cols, nx.alias("__hx"), ny.alias("__hy"),
                         nd.alias("__hd"))
    return out.select(
        *cols, F.col("__hd").alias("hvalue"),
        F.shiftright(F.col("__hd"), 2 * bits - bucket_bits)
        .alias("hbucket"))


def expire_snapshots(snapshots: DataFrame, manifests: DataFrame,
                     keep_last: int = 3,
                     table_col: str = "tbl",
                     snap_col: str = "snap_id",
                     ts_col: str = "committed_at",
                     file_col: str = "file_id") -> DataFrame:
    """Snapshot expiry with file reachability — the Iceberg
    ``expireSnapshots`` / Delta VACUUM planning step a continuously
    committing 100 TB table needs: retain the newest ``keep_last``
    snapshots per table, expire the rest, and delete a data file
    only when NO retained snapshot still references it (time travel
    to any retained snapshot must keep working).

    Shape: retention is one per-table window over the snapshot
    manifest (metadata-sized); live files = manifests semi-joined to
    retained snapshots; the delete list is the distinct expired-file
    set anti-joined against the live set — two (table, file)-keyed
    hash joins over manifest METADATA, the data files themselves
    never move.  Returns one row per referenced file:
    (tbl, file_id, action 'keep'|'delete', n_refs,
    n_expired_refs)."""
    from pyspark.sql import Window
    w = Window.partitionBy(table_col).orderBy(
        F.col(ts_col).desc(), F.col(snap_col).desc())
    marked = snapshots.select(
        table_col, snap_col,
        (F.row_number().over(w) <= keep_last).alias("retained"))
    refs = manifests.join(marked, [table_col, snap_col])
    per_file = (refs.groupBy(table_col, file_col)
                .agg(F.count(F.lit(1)).cast("long").alias("n_refs"),
                     F.sum(F.when(F.col("retained"), 0).otherwise(1))
                     .cast("long").alias("n_expired_refs"),
                     F.max(F.col("retained")).alias("live")))
    return per_file.select(
        table_col, file_col,
        F.when(F.col("live"), F.lit("keep")).otherwise(F.lit("delete"))
        .alias("action"),
        "n_refs", "n_expired_refs")


def bucket_prune(rows: DataFrame, probes: DataFrame,
                 n_buckets: int = 16,
                 key_col: str = "url", file_col: str = "file_id",
                 probe_col: str = "probe") -> DataFrame:
    """Iceberg bucket-transform partition pruning: when the table is
    laid out by ``bucket(N, key)`` (files carry their key-hash bucket
    in the partition path), a point predicate on the key scans
    exactly the one bucket's files — the equality-pruning lever for
    keys too high-cardinality to range-cluster, complementing
    :func:`zonemap_prune` (ranges) and :func:`bloom_file_skipping`
    (per-file membership).  Hash = the portable md5 prefix, so both
    engines assign identical buckets.

    Shape: the file manifest aggregates once per (bucket, file) —
    metadata-sized; probes are dimension-sized and broadcast.
    Returns per probe: (probe, bucket, n_files_total,
    n_files_scanned, n_rows_scanned, n_matching_rows)."""
    from .sketches import _h
    bucketed = rows.select(
        F.col(file_col).alias("f"), F.col(key_col).alias("key"),
        (_h(F.col(key_col), "bucket") % n_buckets).alias("bucket"))
    manifest = (bucketed.groupBy("bucket", "f")
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    per_bucket = (manifest.groupBy("bucket")
                  .agg(F.count(F.lit(1)).cast("long")
                       .alias("n_files_scanned"),
                       F.sum("n_rows").cast("long")
                       .alias("n_rows_scanned")))
    total = manifest.agg(F.count(F.lit(1)).cast("long")
                         .alias("n_files_total"))
    pb = probes.select(
        F.col(probe_col).alias("probe"),
        (_h(F.col(probe_col), "bucket") % n_buckets).alias("bucket"))
    matches = (bucketed.join(
        F.broadcast(pb.select(F.col("probe").alias("key"))
                    .distinct()), "key")
        .groupBy(F.col("key").alias("probe"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching_rows")))
    return (pb.crossJoin(F.broadcast(total))
            .join(F.broadcast(per_bucket), "bucket", "left")
            .join(F.broadcast(matches), "probe", "left")
            .select("probe", "bucket", "n_files_total",
                    F.coalesce("n_files_scanned", F.lit(0))
                    .cast("long").alias("n_files_scanned"),
                    F.coalesce("n_rows_scanned", F.lit(0))
                    .cast("long").alias("n_rows_scanned"),
                    F.coalesce("n_matching_rows", F.lit(0))
                    .cast("long").alias("n_matching_rows")))


def partition_evolution_scan(rows: DataFrame, cutover_hour: int,
                             query_lo: int, query_hi: int,
                             ts_col: str = "ts_hour") -> DataFrame:
    """Partition-spec evolution planning (Iceberg's headline
    metadata feature): data written before the cutover lives in
    DAY-grained partitions, data after in HOUR-grained ones, and
    both specs coexist in one table — the scan planner must prune
    each file under ITS OWN spec's transform, never rewriting old
    files.  A time-range query therefore reads wide day files at the
    range edges written under the old spec and narrow hour files
    under the new one — exactly the mixed-manifest behavior this
    reports.

    Shape: one (spec, partition) aggregate builds the manifest
    (metadata-sized); the prune test is row-local interval overlap
    on [query_lo, query_hi).  Returns (spec, partition_key, n_rows,
    lo_hour, hi_hour, scanned)."""
    ts = F.col(ts_col)
    spec = F.when(ts >= cutover_hour, "hour").otherwise("day")
    pkey = F.when(ts >= cutover_hour, ts) \
        .otherwise(F.expr("%s div 24" % ts_col))
    manifest = (rows
                .select(spec.alias("spec"),
                        pkey.cast("long").alias("partition_key"))
                .groupBy("spec", "partition_key")
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    lo = F.when(F.col("spec") == "day",
                F.col("partition_key") * 24) \
        .otherwise(F.col("partition_key"))
    hi = F.when(F.col("spec") == "day",
                F.col("partition_key") * 24 + 24) \
        .otherwise(F.col("partition_key") + 1)
    return manifest.select(
        "spec", "partition_key", "n_rows",
        lo.cast("long").alias("lo_hour"),
        hi.cast("long").alias("hi_hour"),
        ((lo < query_hi) & (hi > query_lo)).alias("scanned"))


def mor_planning(files: DataFrame, deletes: DataFrame,
                 rewrite_threshold_permille: int = 300,
                 file_col: str = "file_id",
                 rows_col: str = "n_rows",
                 del_file_col: str = "file_id",
                 del_count_col: str = "n_deleted") -> DataFrame:
    """Merge-on-read maintenance planning (Iceberg v2 positional
    deletes / Delta deletion vectors): each data file may carry
    delete files whose rows mask it at read time; reads get slower
    as the mask grows, so the table service rewrites (copy-on-write
    compacts) any file whose deleted fraction crosses the
    threshold.  This operator joins the delete manifest onto the
    data manifest and emits the per-file plan.

    Metadata-sized end to end: one delete-manifest aggregate + one
    file-keyed join.  Returns (file_id, n_rows, n_deleted,
    live_rows, deleted_permille, action 'rewrite'|'keep')."""
    dm = (deletes.groupBy(F.col(del_file_col).alias("f"))
          .agg(F.sum(del_count_col).cast("long").alias("n_deleted")))
    base = (files.select(F.col(file_col).alias("f"),
                         F.col(rows_col).cast("long").alias("n_rows"))
            .join(dm, "f", "left")
            .select("f", "n_rows",
                    F.coalesce("n_deleted", F.lit(0)).cast("long")
                    .alias("n_deleted")))
    ratio = F.expr("n_deleted * 1000 div n_rows")
    return base.select(
        F.col("f").alias("file_id"), "n_rows", "n_deleted",
        (F.col("n_rows") - F.col("n_deleted")).cast("long")
        .alias("live_rows"),
        ratio.cast("long").alias("deleted_permille"),
        F.when(ratio >= rewrite_threshold_permille, "rewrite")
        .otherwise("keep").alias("action"))
