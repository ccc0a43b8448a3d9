"""Structured-Streaming ingest tests: exactly-once file consumption
composed with content-fingerprint dedup, and watermarked windowed
aggregation."""

import datetime
import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="streaming-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ferenda_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_pages_file(spark, path, rows):
    ts = datetime.datetime(2024, 1, 1)
    (spark.createDataFrame(
        [(u, ts, c.encode(), c, "en") for u, c in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
     .coalesce(1).write.mode("append").parquet(path))


def test_streaming_ingest_restart_resumes_from_checkpoint(spark, tmpdir):
    """A fresh query (new awaitTermination lifecycle) against the same
    checkpoint consumes only files that arrived since the last run."""
    from ferenda_spark.snaptable import SnapshotTable
    from ferenda_spark.streaming import run_streaming_ingest

    indir = tmpdir + "/in"
    store = tmpdir + "/store"

    def transform(df):
        return df.select("url", "input_fingerprint", "text")

    _write_pages_file(spark, indir, [("a", "1")])
    run_streaming_ingest(spark, indir, store, transform)
    _write_pages_file(spark, indir, [("b", "2")])
    _write_pages_file(spark, indir, [("c", "3")])
    run_streaming_ingest(spark, indir, store, transform)
    got = sorted(r.url for r in
                 SnapshotTable(store + "/parse_snap").read(spark).collect())
    assert got == ["a", "b", "c"]


def test_sessionize_stream_state_across_batches(spark, tmpdir):
    """Custom stateful operator (applyInPandasWithState): per-user
    session state survives between micro-batches via the stream
    checkpoint — batch 2's late event closes the session opened in
    batch 1 and emits it."""
    from ferenda_spark.streaming import sessionize_stream

    indir = tmpdir + "/in"
    ckpt = tmpdir + "/ckpt"
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)

    def write_events(rows):
        (spark.createDataFrame(rows, "event_id long, user_id long, "
                                     "ts timestamp")
         .coalesce(1).write.mode("append").parquet(indir))

    outdir = tmpdir + "/sessions"

    def drain(_name):
        stream = (spark.readStream
                  .schema("event_id long, user_id long, ts timestamp")
                  .parquet(indir))

        def sink(df, epoch_id):
            if not df.isEmpty():
                df.write.mode("append").parquet(outdir)

        q = (sessionize_stream(stream, gap_minutes=30)
             .writeStream.foreachBatch(sink)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if not os.path.isdir(outdir):
            return []
        return spark.read.parquet(outdir).collect()

    # batch 1: two close events for u1, one for u2 — nothing closes
    write_events([(1, 1, base),
                  (2, 1, base + datetime.timedelta(minutes=5)),
                  (3, 2, base)])
    assert drain("s1") == []

    # batch 2: u1 event 60 min later -> session 1 closes (2 events)
    write_events([(4, 1, base + datetime.timedelta(minutes=65))])
    rows = drain("s2")
    assert [(r.user_id, r.session_start, r.session_end, r.n_events)
            for r in rows] == [
        (1, base, base + datetime.timedelta(minutes=5), 2)]


def test_sessionize_stream_late_event_does_not_split(spark, tmpdir):
    """A late out-of-order event inside the open session must not
    rewind the session's last-event pointer — the next on-time event
    stays in the same session."""
    from ferenda_spark.streaming import sessionize_stream

    indir = tmpdir + "/in"
    ckpt = tmpdir + "/ckpt"
    outdir = tmpdir + "/out"
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)

    def write(rows):
        (spark.createDataFrame(rows, "event_id long, user_id long, "
                                     "ts timestamp")
         .coalesce(1).write.mode("append").parquet(indir))

    def drain():
        stream = (spark.readStream
                  .schema("event_id long, user_id long, ts timestamp")
                  .parquet(indir))

        def sink(df, eid):
            if not df.isEmpty():
                df.write.mode("append").parquet(outdir)

        q = (sessionize_stream(stream, gap_minutes=30)
             .writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write([(1, 1, base)])
    drain()
    # batch 2: one LATE event (9:40, within gap of 10:00 backwards)
    # and one on-time event 10:05 — all one session, nothing closes
    write([(2, 1, base - datetime.timedelta(minutes=20)),
           (3, 1, base + datetime.timedelta(minutes=5))])
    drain()
    assert not os.path.isdir(outdir)
    # batch 3: an event past the gap closes ONE session of 3 events
    write([(4, 1, base + datetime.timedelta(minutes=60))])
    drain()
    rows = spark.read.parquet(outdir).collect()
    assert [(r.user_id, r.session_start, r.session_end, r.n_events)
            for r in rows] == [
        (1, base - datetime.timedelta(minutes=20),
         base + datetime.timedelta(minutes=5), 3)]


def test_sessionize_batch_matches_stream_semantics(spark):
    """The batch sessionizer assigns the same sessions the stateful
    stream operator would close (plus the still-open tails)."""
    from ferenda_spark.streaming import sessionize
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    rows = [(1, 1, base),
            (2, 1, base + datetime.timedelta(minutes=5)),
            (3, 1, base + datetime.timedelta(minutes=65)),
            (4, 2, base)]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp")
    got = {(r.user_id, r.session_seq): (r.session_start, r.session_end,
                                        r.n_events)
           for r in sessionize(events, gap_minutes=30).collect()}
    assert got == {
        (1, 0): (base, base + datetime.timedelta(minutes=5), 2),
        (1, 1): (base + datetime.timedelta(minutes=65),
                 base + datetime.timedelta(minutes=65), 1),
        (2, 0): (base, base, 1)}


def test_windowed_event_counts_batch_semantics(spark):
    """The watermarked window definition aggregates identically on a
    batch frame (watermark = no-op in batch): hour buckets, per-type
    counts."""
    from ferenda_spark.streaming import windowed_event_counts
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    rows = [(base + datetime.timedelta(minutes=m), t)
            for m, t in ((5, "click"), (25, "click"), (35, "view"),
                         (65, "click"), (70, "view"), (125, "view"))]
    events = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {(r.window_start.hour, r.event_type): r.n_events
           for r in windowed_event_counts(events).collect()}
    assert got == {(10, "click"): 2, (10, "view"): 1,
                   (11, "click"): 1, (11, "view"): 1,
                   (12, "view"): 1}


def test_streaming_ingest_atomic_snapshot_per_batch(spark, tmpdir):
    """Each micro-batch = one atomic snapshot commit; re-delivered
    content is skipped by the fingerprint anti-join against the
    committed outputs, and the table's history hands downstream
    exactly the per-batch delta."""
    from ferenda_spark.snaptable import SnapshotTable
    from ferenda_spark.streaming import run_streaming_ingest

    indir = tmpdir + "/in"
    store = tmpdir + "/store"

    def transform(df):
        return (df.withColumn("out", F.upper("text"))
                .select("url", "input_fingerprint", "out"))

    _write_pages_file(spark, indir, [("u1", "aa"), ("u2", "bb")])
    run_streaming_ingest(spark, indir, store, transform)
    tab = SnapshotTable(store + "/parse_snap")
    assert tab.read(spark).count() == 2
    h1 = tab.history()
    assert len(h1) == 1 and h1[0]["added_rows"] == 2

    # u3 new, u2 re-delivered identical -> one-row second snapshot
    _write_pages_file(spark, indir, [("u3", "cc"), ("u2", "bb")])
    run_streaming_ingest(spark, indir, store, transform)
    h2 = tab.history()
    assert [h["added_rows"] for h in h2] == [2, 1]
    delta = tab.incremental(spark, h2[0]["snapshot_id"],
                            h2[1]["snapshot_id"])
    assert [(r.url, r.out) for r in delta.collect()] == [("u3", "CC")]

    # nothing new: stream consumes nothing, no empty commit
    run_streaming_ingest(spark, indir, store, transform)
    assert len(tab.history()) == 2


def test_streaming_dedup_ingest_online(spark, tmpdir):
    """Online dedup: batch 2's near-dup of a COMMITTED doc is dropped,
    its in-batch exact dup keeps one copy, and a third run with no new
    files changes nothing (exactly-once offsets)."""
    import json as _json

    from ferenda_spark.snaptable import SnapshotTable
    from ferenda_spark.streaming import run_streaming_dedup_ingest

    ind = os.path.join(tmpdir, "in")
    os.makedirs(ind)
    table = os.path.join(tmpdir, "corpus")
    same = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day")
    other = ("completely different content about spark shuffles and "
             "joins inside the engine core")
    third = ("utterly novel text nothing shares any shingle with "
             "this sentence at all believe me")
    with open(os.path.join(ind, "b1.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in [
            {"doc_id": 1, "text": same},
            {"doc_id": 2, "text": other}]))
    c1 = run_streaming_dedup_ingest(spark, ind, table)
    assert [(a, n) for _, a, n in c1] == [(2, 2)]
    with open(os.path.join(ind, "b2.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in [
            {"doc_id": 3, "text": same},      # near-dup of committed 1
            {"doc_id": 4, "text": third},     # novel
            {"doc_id": 5, "text": third}]))   # exact in-batch dup of 4
    c2 = run_streaming_dedup_ingest(spark, ind, table)
    assert [(a, n) for _, a, n in c2] == [(3, 1)]   # arrived pre-dedup
    got = {r.doc_id for r in SnapshotTable(table).read(spark).collect()}
    assert got == {1, 2, 4}
    c3 = run_streaming_dedup_ingest(spark, ind, table)
    assert c3 == []                 # offsets consumed: no batch fires
    assert {r.doc_id for r in SnapshotTable(table).read(spark)
            .collect()} == {1, 2, 4}


def test_streaming_dedup_replay_and_in_batch_near_dup(spark, tmpdir):
    """(a) an in-batch NEAR-dup pair (not byte-identical) keeps only
    its min-id member; (b) wiping the stream checkpoint replays every
    batch — the committed-id anti-join keeps the table unchanged, even
    for a whitespace-only doc that produces no shingles."""
    import json as _json
    import shutil as _shutil

    from ferenda_spark.snaptable import SnapshotTable
    from ferenda_spark.streaming import run_streaming_dedup_ingest

    ind = os.path.join(tmpdir, "in")
    os.makedirs(ind)
    table = os.path.join(tmpdir, "corpus")
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day")
    neardup = base.replace("lazy", "sleepy")     # same shingles mostly
    with open(os.path.join(ind, "b1.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in [
            {"doc_id": 7, "text": base},
            {"doc_id": 8, "text": neardup},      # in-batch near-dup
            {"doc_id": 9, "text": "   "}]))      # no shingles at all
    c1 = run_streaming_dedup_ingest(spark, ind, table)
    got = {r.doc_id for r in SnapshotTable(table).read(spark).collect()}
    assert got == {7, 9}                         # 8 dropped in-batch
    assert [(a, n) for _, a, n in c1] == [(3, 2)]
    # simulate at-least-once replay: wipe ONLY the stream checkpoint
    _shutil.rmtree(os.path.join(table, "_dedup_ckpt"))
    run_streaming_dedup_ingest(spark, ind, table)
    after = [r.doc_id for r in SnapshotTable(table).read(spark)
             .collect()]
    assert sorted(after) == [7, 9]               # no duplicate rows
