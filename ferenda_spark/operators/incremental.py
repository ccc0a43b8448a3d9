"""Resumable stages over snapshot tables: fingerprint anti-join work
selection + one atomic commit per stage batch + per-partition lineage
counters.

The reference's incremental contract (SURVEY.md §2.9, X1/I1-I5):
`DocumentStore.needed` skips documents whose output is newer than the
input (documentstore.py:324-357); `DocumentEntry` records per-(action,
basefile) status/duration (documententry.py:27-104).  Spark
restatement (:func:`run_stage_atomic`):

* a stage's output table is a snapshot table (snaptable.py) under
  ``<store>/<stage>_snap``, and every output row carries the
  ``(url, input_fingerprint)`` of the input it came from — the output
  IS the entries bookkeeping, there is no second table;
* fingerprint = md5 of the stage's input payload (md5(html) for the
  parse stage: download_is_different semantics,
  documentrepository.py:1010-1015), so changed pages reprocess and
  unchanged ones don't (I5);
* on (re)start the stage's work set = inputs **anti-joined** against
  the committed ``(url, input_fingerprint)`` pairs;
* the batch lands as ONE conditional snapshot commit, so a kill
  anywhere before the metadata publish leaves the table unchanged and
  the whole batch re-runs; per-batch history gives downstream stages
  exactly the delta (``table.incremental``).

Snapshot tables are the sandbox stand-in for Iceberg's atomic commit
(noted in session.py); commits stay idempotent because outputs are
deterministic functions of inputs (S5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def fingerprinted(pages: DataFrame,
                  source_col: str = "html") -> DataFrame:
    """+ input_fingerprint = md5 of the stage's input payload —
    ``html`` for the download->parse stage; downstream stages
    fingerprint their own input column (e.g. the parsed ``text``), so
    every stage of a chain gets change detection against ITS input."""
    return pages.withColumn("input_fingerprint",
                            F.md5(F.col(source_col).cast("binary")))


def stage_counters(results: DataFrame) -> DataFrame:
    """A10/north-rule lineage: per-partition row/error counters."""
    return (results
            .withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows"),
                 F.sum(F.when(F.col("error").isNotNull(), 1)
                       .otherwise(0)).alias("errors")))


def run_stage_atomic(pages: DataFrame, store_dir: str, stage: str,
                     transform, source_col: str = "html",
                     retry_errors: bool = False):
    """Checkpointed stage execution: fingerprint ``pages`` on
    ``source_col``, select the pending work, run ``transform`` once
    (materialized with ``localCheckpoint``) and commit its output as
    one atomic snapshot (snaptable.py) of ``<store_dir>/<stage>_snap``.
    The output table is its own bookkeeping: pending work anti-joins
    against the distinct ``(url, input_fingerprint)`` pairs already in
    the committed outputs, so ``transform`` must keep both columns.
    With only ONE commit there is no crash window: a kill anywhere
    before the metadata publish leaves the table byte-identical and
    the whole batch simply re-runs, with no duplicate output rows ever
    visible.  Downstream stages can consume exactly the delta via
    ``table.incremental(spark, prev, new)``.

    Quarantined rows (``error`` non-null) count as processed by
    default: a permanently-poisoned page must NOT re-run — and
    re-commit an identical quarantine row — on every resume, or a
    scheduled rerun loop grows the table and its snapshot history
    without bound.  ``retry_errors=True`` opts into re-attempting them
    (transient-failure recovery), accepting one new quarantine row per
    retry; either way a page whose CONTENT changes reprocesses, since
    the fingerprint differs.

    Safe under CONCURRENT drivers: the commit is conditional on the
    snapshot version the todo set was anti-joined against
    (``append(expected_version=...)``), so a second driver that raced
    the same pending batch gets :class:`CommitConflict` instead of
    silently committing duplicate ``(url, input_fingerprint)`` rows —
    it then re-anti-joins its already-computed output against the new
    head and commits only the genuinely-unclaimed remainder (usually
    nothing).  One caveat under ``retry_errors=True``: a retry row that
    loses such a race is dropped for this run (the competing driver's
    row — success or quarantine — stands) and is re-attempted on the
    next scheduled rerun.

    Returns ``(full_output_df, table, snapshot-or-None)`` —
    ``snapshot`` is None when there was no pending work (no empty
    commits)."""
    from ..snaptable import CommitConflict, SnapshotError, SnapshotTable

    spark = pages.sparkSession
    tab = SnapshotTable(os.path.join(store_dir, stage + "_snap"))
    fp = fingerprinted(pages, source_col)
    keys = ["url", "input_fingerprint"]
    base_version = tab.version()
    if base_version:
        prior = tab.read(spark)
        if retry_errors and "error" in prior.columns:
            prior = prior.where(F.col("error").isNull())
        done = prior.select(*keys).distinct()
        todo = fp.join(done, keys, "left_anti")
    else:
        todo = fp
    out = transform(todo).localCheckpoint()
    if out.count() == 0:
        return (tab.read(spark) if base_version else out), tab, None
    for _ in range(20):
        try:
            snap = (tab.append(out, expected_version=base_version)
                    if base_version
                    else tab.create(out, stats_cols=("url",)))
            return tab.read(spark), tab, snap
        except (CommitConflict, SnapshotError):
            # a concurrent driver committed first: keep only the rows
            # whose (url, fingerprint) it did NOT already claim
            committed = tab.read(spark).select(*keys).distinct()
            out = (out.join(committed, keys, "left_anti")
                   .localCheckpoint())
            base_version = tab.version()
            if out.count() == 0:
                return tab.read(spark), tab, None
    raise CommitConflict(
        "gave up after 20 conditional-commit retries under %s"
        % tab.path)


def prov_triples(stage_runs: DataFrame) -> DataFrame:
    """PROV-O provenance triples for pipeline stage runs — the
    lineage block that makes a 100 TB derived corpus auditable:
    every output artifact says which activity generated it, what
    that activity used, and when it ran (W3C PROV-O: Entity /
    Activity / used / wasGeneratedBy / wasDerivedFrom).  The
    reference tracks the same facts in per-doc entry files
    (documententry.py's parse/generate timestamps); at pipeline
    scale they become queryable triples next to the data.

    ``stage_runs``: (stage, source, started, ended, n_out) — one row
    per stage execution, the shape run_stage_atomic's bookkeeping
    already produces.  Map-only: a fixed number of triples per run
    row, no shuffle.  Returns (subj, pred, obj).
    """
    P = "http://www.w3.org/ns/prov#"
    act = F.concat(F.lit("urn:activity:"), F.col("stage"),
                   F.lit(":"), F.col("source"))
    ent = F.concat(F.lit("urn:artifact:"), F.col("stage"),
                   F.lit(":"), F.col("source"))
    inp = F.concat(F.lit("urn:artifact:input:"), F.col("source"))
    t = lambda s, p, o: stage_runs.select(  # noqa: E731
        s.alias("subj"), F.lit(p).alias("pred"), o.alias("obj"))
    return (t(ent, P + "wasGeneratedBy", act)
            .unionByName(t(ent, P + "wasDerivedFrom", inp))
            .unionByName(t(act, P + "used", inp))
            .unionByName(t(act, P + "startedAtTime", F.col("started")))
            .unionByName(t(act, P + "endedAtTime", F.col("ended")))
            .unionByName(t(ent, "https://example.org/ns#rowCount",
                           F.col("n_out").cast("string"))))
