"""Structured-Streaming ingest surface — the continuous analogue of
the incremental batch contract (SURVEY.md S2/I1-I5).

The reference polls sources on a schedule (cron-driven ``download``
runs, documentrepository.py:636-744); at 10^12-document scale the
natural Spark shape is a continuous pipeline: new/changed page files
land in the input table's directory, a file-source stream picks up
each file exactly once (checkpointed source offsets), and every
micro-batch runs the SAME incremental stage machinery — fingerprint
anti-join + one snapshot commit (operators/incremental.py) — via
``foreachBatch``.  The dedup layers compose: source offsets stop the
same *file* from being read twice, the snapshot commit is
all-or-nothing, and the fingerprint anti-join stops the same *content*
from being reprocessed even when re-delivered in a new file
(conditional-fetch semantics, S2/I5).

* :func:`stream_pages` — file-source ``readStream`` over the pages
  layout.
* :func:`run_streaming_ingest` — ``foreachBatch(run_stage_atomic)``
  with the ``availableNow`` trigger: drains everything currently
  available then stops — the restartable catch-up run (the cron
  analogue); a production deployment switches to a processing-time
  trigger and the same code runs continuously.  ``foreachBatch`` rather than a direct
  sink because the needed-work anti-join reads a batch-side table (the
  committed stage snapshot), which declarative streaming sinks can't
  express.
* :func:`windowed_event_counts` — watermarked tumbling-window
  aggregation over an event stream: the streaming analogue of the
  events histogram (A6), with late data beyond the watermark dropped
  and state bounded by it (no unbounded window state at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def stream_pages(spark: SparkSession, input_dir: str,
                 schema: str = PAGES_SCHEMA) -> DataFrame:
    """File-source stream over a directory of pages parquet files.
    (Streaming file sources require an explicit schema — inference
    would race the arriving files.)"""
    return spark.readStream.schema(schema).parquet(input_dir)


def run_streaming_ingest(spark: SparkSession, input_dir: str,
                         store_dir: str, transform,
                         stage: str = "parse") -> None:
    """Drain all currently-available page files through the resumable
    stage (operators.incremental.run_stage_atomic), then stop
    (availableNow).  Each micro-batch lands as ONE atomic snapshot
    commit of ``<store_dir>/<stage>_snap``, so three dedup layers
    compose — stream-source offsets skip consumed files, the snapshot
    commit is all-or-nothing (a kill mid-batch leaves no partial
    outputs to reconcile), and the fingerprint anti-join skips
    re-delivered page contents.  The output table additionally carries
    per-batch history: ``table.incremental(prev, new)`` hands
    downstream exactly one micro-batch's rows."""
    from .operators.incremental import run_stage_atomic

    def _batch(df: DataFrame, epoch_id: int) -> None:
        if df.isEmpty():
            return
        run_stage_atomic(df, store_dir, stage, transform)

    q = (stream_pages(spark, input_dir)
         .writeStream
         .foreachBatch(_batch)
         .option("checkpointLocation",
                 os.path.join(store_dir, "_stream_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: consecutive events of a user separated by
    less than ``gap_minutes`` form one session.  Pure window
    expressions (lag -> gap flag -> running sum = session ordinal ->
    per-session aggregate); one shuffle on user_id.  Ordering ties are
    broken by event_id so the result is deterministic and the DuckDB
    oracle mirrors it exactly.

    Returns (user_id, session_seq, session_start, session_end,
    n_events)."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic, not epoch casts: TIMESTAMP_NTZ has no
    # epoch without a zone, and intervals are zone-free on both
    # engines so the oracle mirrors exactly
    is_new = (F.col("ts") - F.lag("ts").over(w)
              > F.expr("INTERVAL %d SECONDS" % (gap_minutes * 60)))
    flagged = events.withColumn(
        "_new", F.when(is_new, 1).otherwise(0))
    seq = flagged.withColumn("session_seq",
                             F.sum("_new").over(w).cast("long"))
    return (seq.groupBy("user_id", "session_seq")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events")))


def sessionize_stream(events_stream: DataFrame,
                      gap_minutes: int = 30) -> DataFrame:
    """The streaming twin of :func:`sessionize` as a CUSTOM STATEFUL
    operator (``applyInPandasWithState``): per-user state carries the
    open session (start, last_ts, n_events) across micro-batches; a
    new event more than ``gap_minutes`` after the last CLOSES the open
    session and emits it.  Deterministic without timers: sessions are
    emitted on the arrival of the first event past the gap (the next
    batch), so tests and replays are exact; a production deployment
    would add a ProcessingTimeTimeout to flush idle sessions.

    Emits (user_id, session_start, session_end, n_events) rows for
    CLOSED sessions only."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60

    def fn(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        ts_all = []
        for pdf in pdf_iter:
            ts_all.extend(pd.to_datetime(pdf["ts"]).tolist())
        closed = []
        for ts in sorted(ts_all):
            ts = ts.to_pydatetime()
            if last is not None and (ts - last).total_seconds() > gap_s:
                closed.append((key[0], start, last, n))
                start, n = ts, 0
            if start is None:
                start = ts
            # a LATE event inside the open session (ts <= last, e.g.
            # delivered by a later micro-batch) extends the session
            # backwards but must not rewind `last` — that would
            # spuriously split the session at the next on-time event
            start = min(start, ts)
            last = max(last, ts) if last is not None else ts
            n += 1
        state.update((start, last, n))
        if closed:
            yield pd.DataFrame(closed, columns=[
                "user_id", "session_start", "session_end", "n_events"])

    return (events_stream
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType=("user_id long, "
                                  "session_start timestamp, "
                                  "session_end timestamp, n_events long"),
                stateStructType=("session_start timestamp, "
                                 "last_ts timestamp, n_events long"),
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def windowed_event_counts(events: DataFrame, ts_col: str = "ts",
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """(window_start, window_end, event_type, n_events): tumbling
    windows with a watermark bounding state — works identically on a
    batch DataFrame (watermark is a no-op there), so the same
    definition serves the batch histogram and the stream."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events"))


def run_streaming_dedup_ingest(spark: SparkSession, input_dir: str,
                               table_path: str,
                               n: int = 3, num_hashes: int = 8,
                               band_size: int = 2) -> list:
    """Online dedup ingest: each micro-batch is LSH-matched against
    the ALREADY-COMMITTED corpus, and only novel documents append —
    the streaming composition of the three pieces built separately
    (file-source exactly-once offsets, snapshot-table atomic commits,
    :func:`operators.dedup.minhash_incremental_matches`).

    Per micro-batch (foreachBatch; availableNow catch-up):

    1. exact keep-first within the batch (min doc_id per text md5),
       then LSH keep-first within the batch (a near-dup PAIR arriving
       in one batch keeps only its min-id member — arrival timing
       must not change corpus contents);
    2. LSH band-bucket match against the committed table (the base
       side reads the snapshot table — on a cluster, the committed
       signature stage table — never re-shingling history), plus a
       doc_id anti-join against committed ids: a batch REPLAYED after
       a kill between table commit and stream-checkpoint commit drops
       every already-committed row by id, even rows (empty/whitespace
       text) that produce no shingles and so could never LSH-match
       their own committed copy;
    3. novel rows append as ONE atomic snapshot commit.

    Returns the per-batch counter list [(epoch, arrived, novel)] —
    the per-partition lineage/counters surface of the north rule;
    ``arrived`` counts the batch BEFORE any dedup."""
    from .operators.dedup import (exact_duplicates,
                                  minhash_band_pairs,
                                  minhash_incremental_matches)
    from .snaptable import SnapshotTable

    counters = []
    table = SnapshotTable(table_path)

    def _batch(df: DataFrame, epoch_id: int) -> None:
        if df.isEmpty():
            return
        docs = df.select("doc_id", "text").localCheckpoint()
        n_arrived = docs.count()
        keep = (exact_duplicates(docs, prefix_len=1 << 20)
                .select(F.col("canonical_doc_id").alias("doc_id")))
        docs = docs.join(keep, "doc_id", "left_semi")
        in_batch = (minhash_band_pairs(docs, n=n,
                                       num_hashes=num_hashes,
                                       band_size=band_size)
                    .select(F.col("doc_b").alias("doc_id")).distinct())
        docs = docs.join(in_batch, "doc_id", "left_anti") \
                   .localCheckpoint()
        if table.exists():
            base = table.read(spark).select("doc_id", "text")
            dup_ids = (minhash_incremental_matches(
                docs, base, n=n, num_hashes=num_hashes,
                band_size=band_size)
                .select(F.col("new_doc").alias("doc_id"))
                .unionByName(base.select("doc_id"))
                .distinct())
            novel = docs.join(dup_ids, "doc_id", "left_anti")
        else:
            novel = docs
        novel = novel.localCheckpoint()
        n_novel = novel.count()
        if n_novel:
            if table.exists():
                table.append(novel)
            else:
                table.create(novel)
        counters.append((int(epoch_id), n_arrived, n_novel))

    q = (spark.readStream
         .schema("doc_id long, text string")
         .option("maxFilesPerTrigger", 1)
         .json(input_dir)
         .writeStream
         .foreachBatch(_batch)
         .option("checkpointLocation",
                 os.path.join(table_path, "_dedup_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return counters
