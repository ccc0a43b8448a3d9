"""The three workloads.  Each calls the public functions of
``ferenda_spark`` and nothing else of the repo.

A workload writes its per-seed inputs once (:meth:`generate`, which
``generate.py`` runs in a process of its own).  After the session
start, :meth:`setup` loads them, restores the starting state and warms
up.  The timed loop calls :meth:`op` (one closed-loop operation) and,
outside the op's time, :meth:`check`.
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import os
import shutil
import subprocess
import sys
import time

from inputs import (BASE_SEED, CYCLE, ID_BLOCK, build_sample, delta_stream,
                    documents, query_stream, read_json, write_json)
from oracle import NULL, TRIPLE_COLS, rows_digest

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclasses.dataclass
class Op:
    seconds: float
    items: int           # pages (build, delta) or queries (query)
    triples: int         # triples committed, or result rows returned
    kind: str            # build | delta | lookup | analytic
    detail: object = None
    ok: bool = False
    cpu_s: float = 0.0
    steal_pct: float = 0.0


@functools.lru_cache(maxsize=None)
def source_id() -> str:
    """Digest of the sources of ``ferenda_spark`` and of the benchmark.
    The inputs directory is keyed by it: pages, sinks and committed
    states are made by the package, so a changed package never reuses
    another version's."""
    root = os.path.dirname(HERE)
    h = hashlib.sha1()
    for top in ("ferenda_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class Context:
    """What a workload needs: the session owner, the tracer, the
    scale and seed, and its directories."""

    def __init__(self, runner, tracer, scale, seed: int, work_dir: str):
        self.runner = runner
        self.tracer = tracer
        self.scale = scale
        self.seed = seed
        inputs = os.path.join(work_dir, "inputs", source_id(), scale.name)
        self.input_dir = "%s-%d" % (inputs, seed)
        # the fixed corpora (kg_build's pool, kg_delta's starting state,
        # kg_query's sink), built once per checkout
        self.base_dir = inputs + "-base"
        self.run_dir = os.path.join(work_dir, "run", scale.name)

    @property
    def spark(self):
        """The session; input generation starts it on first use."""
        if self.runner.spark is None:
            self.runner.start()
        return self.runner.spark

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts) -> str:
        return os.path.join(self.input_dir, *parts)

    def base(self, *parts) -> str:
        return os.path.join(self.base_dir, *parts)


def _once(path: str, make) -> str:
    """Create ``path`` with ``make(tmp_path)`` unless it exists; the
    rename makes a half-written input invisible."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
    return path


def _start_oracle(documents_path: str, out_dir: str):
    if os.path.exists(os.path.join(out_dir, "oracle.json")):
        return None
    return subprocess.Popen([sys.executable,
                             os.path.join(HERE, "oracle.py"),
                             documents_path, out_dir])


def _wait_oracle(proc) -> None:
    if proc is not None and proc.wait() != 0:
        raise RuntimeError("oracle.py failed with %d" % proc.returncode)


def write_documents(out_dir: str, make):
    """documents.parquet under ``out_dir``, from ``make()`` unless it
    exists; returns the frame."""
    import pandas as pd
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(path):
        make().to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def write_corpus(ctx: Context, out_dir: str, docs: int | None = None):
    """documents.parquet and pages/ of the fixed corpus, with ``docs``
    distinct documents per replica (default: the scale's)."""
    from ferenda_spark.corpus import pages_from_documents
    frame = write_documents(
        out_dir, lambda: documents(ctx.scale, BASE_SEED, docs))

    def make_pages(tmp):
        df = ctx.spark.createDataFrame(
            frame[["doc_id", "text", "lang", "source"]])
        (pages_from_documents(df.repartition(ctx.runner.n_slots * 2))
         .write.parquet(tmp))
    _once(os.path.join(out_dir, "pages"), make_pages)
    return frame


def write_sample_pages(pool_pages: str, docs, path: str, parts: int) -> None:
    """The pool's pages of the documents in ``docs``, split over
    ``parts`` files (so Spark reads them in as many tasks).  Pages are
    deterministic per doc_id, so these are the pages
    ``pages_from_documents`` makes for ``docs``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from ferenda_spark.corpus import page_url
    table = ds.dataset(pool_pages, format="parquet").to_table()
    urls = pa.array(sorted(page_url(int(d), s) for d, s in
                           zip(docs["doc_id"], docs["source"])))
    table = table.filter(pc.is_in(table["url"], value_set=urls))
    if table.num_rows != len(urls):
        raise RuntimeError("pool lacks pages of the sample")
    # Spark reads the written timestamps back as TIMESTAMP only when
    # they are stored as UTC-adjusted micros
    ts = table.schema.get_field_index("warc_ts")
    table = table.set_column(ts, "warc_ts", pc.cast(
        table["warc_ts"], pa.timestamp("us", tz="UTC")))
    os.makedirs(path)
    for k in range(parts):
        pq.write_table(table.take(list(range(k, table.num_rows, parts))),
                       os.path.join(path, "part-%05d.parquet" % k))


# ------------------------------------------------------------- build

def sink_digest(df) -> tuple:
    """(rows, digest_a, digest_b) — the Spark twin of
    ``oracle.triples_digest_sql``."""
    from pyspark.sql import functions as F
    cols = [F.coalesce(F.col(c), F.lit(NULL)) for c in TRIPLE_COLS]
    h = F.md5(F.concat_ws("\x1f", *cols))

    def part(start):
        return F.sum(F.conv(F.substring(h, start, 8), 16, 10)
                     .cast("long"))
    r = df.agg(F.count(F.lit(1)), part(1), part(9)).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def build_kg(ctx: Context, pages, store_dir: str, drop_one=None) -> None:
    """pages -> extract -> doc metadata -> triples -> sameAs components
    -> canonical rewrite -> bucketed sink at ``store_dir/triples``.

    ``drop_one`` (url) removes that page's title triple before the
    sink, a planted wrong output for the smoke test."""
    from pyspark.sql import functions as F

    from ferenda_spark import vocab
    from ferenda_spark.catalog import write_triples
    from ferenda_spark.operators.canonicalize import (rewrite_canonical,
                                                      sameas_components)
    from ferenda_spark.operators.extract import extract_pages
    from ferenda_spark.operators.triples import with_doc_metadata
    from ferenda_spark.pipeline import corpus_triples

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("extract_pages", "extract") as a:
        # parse once before the fan-out, as pipeline.flagship does
        docs = with_doc_metadata(extract_pages(pages)).localCheckpoint()
        if ctx.traced:
            a["pages"] = docs.count()
            a["quarantined"] = docs.where(F.col("error").isNotNull()).count()
    with tr.span("corpus_triples", "triples") as a:
        t = corpus_triples(spark, docs)
        if ctx.traced:
            t = t.localCheckpoint()
            a["rows_out"] = t.count()
    with tr.span("sameas_rewrite", "canonicalize") as a:
        out = rewrite_canonical(t, sameas_components(t))
        if ctx.traced:
            out = out.localCheckpoint()
            a["rows_out"] = out.count()
    if drop_one is not None:
        out = out.where(~((F.col("context") == drop_one)
                          & (F.col("pred") == vocab.DCTERMS_TITLE)))
    with tr.span("write_triples", "catalog") as a:
        path = write_triples(out, store_dir)
        if ctx.traced:
            files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                     for f in fs if f.endswith(".parquet")]
            a["files_written"] = len(files)
            a["bytes_written"] = sum(os.path.getsize(f) for f in files)


class KgBuild:
    """Full batch build of the seed's corpus, sink included."""

    name = "kg_build"

    def __init__(self, ctx: Context, drop_one: bool = False):
        self.ctx = ctx
        self.drop_one = drop_one
        self.pages = None

    def generate(self) -> None:
        """The seed draws the corpus from a fixed pool, whose pages are
        made once per checkout, so a new seed needs no Spark."""
        ctx = self.ctx
        pool = write_corpus(ctx, ctx.base("build_pool"), ctx.scale.pool)
        docs = write_documents(ctx.input_dir, lambda: build_sample(
            ctx.scale, ctx.seed, pool))
        proc = _start_oracle(ctx.path("documents.parquet"), ctx.input_dir)

        def make_pages(tmp):
            write_sample_pages(ctx.base("build_pool", "pages"), docs, tmp,
                               ctx.runner.n_slots * 2)
        _once(ctx.path("pages"), make_pages)
        _wait_oracle(proc)

    def setup(self, warm: bool) -> None:
        import pandas as pd
        spark = self.ctx.spark
        self.docs = pd.read_parquet(self.ctx.path("documents.parquet"),
                                    columns=["doc_id", "source"])
        self.expected = read_json(self.ctx.path("oracle.json"))["kg"]
        self.pages = spark.read.parquet(self.ctx.path("pages"))
        self.pages.count()
        shutil.rmtree(self.ctx.run_dir, ignore_errors=True)
        if warm:
            # two builds of the first replica of the corpus: after only
            # one, the first timed build is still 10-15 % slower than
            # the next
            first = self.pages.where("warc_ts < timestamp'%s'"
                                     % self._cut())
            for k in range(2):
                build_kg(self.ctx, first,
                         os.path.join(self.ctx.run_dir, "warm-%d" % k))
                self.ctx.runner.release_cached()

    def _cut(self) -> str:
        # warc_ts = 2024-01-01 + doc_id minutes; the first replica
        import datetime
        first = datetime.datetime(2024, 1, 1) + datetime.timedelta(
            minutes=2 * ID_BLOCK)
        return first.isoformat(sep=" ")

    def has_next(self) -> bool:
        return True

    def at_boundary(self) -> bool:
        return True

    def op(self) -> Op:
        url = None
        if self.drop_one:
            from ferenda_spark.corpus import page_url
            d = int(self.docs["doc_id"].iloc[0])
            url = page_url(d, self.docs["source"].iloc[0])
        store = os.path.join(self.ctx.run_dir, "sink")
        t0 = time.perf_counter()
        build_kg(self.ctx, self.pages, store, drop_one=url)
        dt = time.perf_counter() - t0
        return Op(dt, self.ctx.scale.pages, 0, "build", store)

    def check(self, op: Op) -> bool:
        df = self.ctx.spark.read.parquet(os.path.join(op.detail, "triples"))
        rows, a, b = sink_digest(df)
        op.triples = rows
        return (rows == self.expected["rows"]
                and [a, b] == self.expected["digest"])


# ------------------------------------------------------------- delta

def _boundary(ctx: Context, todo):
    """In a traced run, the pending rows ``run_stage_atomic`` hands to a
    stage transform, materialized, so that its anti-join against the
    committed table is charged to the incremental layer."""
    if not ctx.traced:
        return todo
    todo = todo.localCheckpoint()
    todo.count()
    return todo


def _parse_t(ctx: Context):
    from ferenda_spark.operators.extract import extract_pages

    def parse_t(todo):
        todo = _boundary(ctx, todo)
        with ctx.tracer.span("extract_pages", "extract") as a:
            out = (extract_pages(todo)
                   .join(todo.select("url", "input_fingerprint"), "url"))
            if ctx.traced:
                out = out.localCheckpoint()
                a["pages"] = out.count()
            return out
    return parse_t


def _triples_t(ctx: Context):
    from pyspark.sql import functions as F

    from ferenda_spark.operators.triples import all_triples, with_doc_metadata

    def triples_t(todo):
        todo = _boundary(ctx, todo)
        with ctx.tracer.span("all_triples", "triples") as a:
            t = all_triples(with_doc_metadata(todo))
            lineage = todo.select(F.col("url"), "input_fingerprint")
            out = t.join(lineage, t["context"] == lineage["url"])
            if ctx.traced:
                out = out.localCheckpoint()
                a["rows_out"] = out.count()
            return out
    return triples_t


def _current_snapshot(tab) -> int:
    return [h["snapshot_id"] for h in tab.history() if h["is_current"]][0]


class DeltaState:
    """The committed stage tables under one directory: parse and
    triples snapshot tables (run_stage_atomic's layout) and the stored
    sameAs mapping."""

    def __init__(self, store: str):
        from ferenda_spark.snaptable import SnapshotTable
        self.store = store
        self.parse = SnapshotTable(os.path.join(store, "parse_snap"))
        self.triples = SnapshotTable(os.path.join(store, "triples_snap"))
        self.mapping = SnapshotTable(os.path.join(store, "mapping_snap"))
        self.heads = None

    def load_heads(self) -> None:
        self.heads = (_current_snapshot(self.parse),
                      _current_snapshot(self.triples))


def ingest(ctx: Context, state: DeltaState, pages) -> tuple:
    """One delta: parse stage, triples stage, then the mapping refresh.
    Returns (parse snapshot, triples snapshot) of the commits."""
    from pyspark.sql import functions as F

    from ferenda_spark import vocab
    from ferenda_spark.operators.canonicalize import incremental_components
    from ferenda_spark.operators.incremental import run_stage_atomic

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("run_stage_atomic", "incremental", stage="parse") as a:
        if ctx.traced:
            a["pages_delivered"] = pages.count()
        parsed, _, psnap = run_stage_atomic(pages, state.store, "parse",
                                            _parse_t(ctx))
        if ctx.traced and psnap is not None:
            a["pages_processed"] = psnap["summary"]["added_rows"]
    with tr.span("run_stage_atomic", "incremental", stage="triples"):
        _, _, tsnap = run_stage_atomic(parsed.drop("input_fingerprint"),
                                       state.store, "triples",
                                       _triples_t(ctx), source_col="text")
    if tsnap is not None:
        edges = (state.triples
                 .incremental(spark, state.heads[1], tsnap["snapshot_id"])
                 .where(F.col("pred") == vocab.OWL_SAMEAS)
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        with tr.span("incremental_components", "canonicalize") as a:
            mapping = incremental_components(state.mapping.read(spark),
                                             edges)
            if ctx.traced:
                mapping = mapping.localCheckpoint()
                a["rows_out"] = mapping.count()
        state.mapping.overwrite(mapping)
    return psnap, tsnap


def _doc_ids_of(urls) -> set:
    return {int(u.rsplit("/", 1)[1]) for u in urls}


class KgDelta:
    """A stream of small batches, drawn by the seed, into the committed
    state of the fixed corpus."""

    name = "kg_delta"

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def _pristine(self) -> str:
        return self.ctx.base("delta_state")

    def generate(self) -> None:
        from pyspark.sql import DataFrame, functions as F

        from ferenda_spark.corpus import page_url, pages_from_documents
        from ferenda_spark.operators.canonicalize import sameas_components

        ctx = self.ctx
        docs = write_corpus(ctx, ctx.base_dir)

        def make_batches(tmp):
            batches = delta_stream(ctx.scale, ctx.seed, docs)
            os.makedirs(tmp)
            meta = []
            for i, b in enumerate(batches):
                urls = [page_url(int(d), s) for d, s, k in
                        zip(b["doc_id"], b["source"], b["kind"])
                        if k != "same"]
                meta.append({"pages": len(b), "commit": sorted(urls)})
            write_json(os.path.join(tmp, "batches.json"), meta)
            # one pages table for all batches, partitioned by batch
            cols = ["doc_id", "text", "lang", "source"]
            pages = functools.reduce(DataFrame.unionByName, [
                pages_from_documents(ctx.spark.createDataFrame(b[cols]))
                .withColumn("batch", F.lit(i))
                for i, b in enumerate(batches)])
            pages.write.partitionBy("batch").parquet(
                os.path.join(tmp, "pages"))
        _once(ctx.path("delta_batches"), make_batches)

        def make_base(tmp):
            state = DeltaState(tmp)
            ingest_base(ctx, state,
                        ctx.spark.read.parquet(ctx.base("pages")),
                        sameas_components)
        _once(self._pristine(), make_base)

    def _restore(self, name: str) -> DeltaState:
        dst = os.path.join(self.ctx.run_dir, name)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self._pristine(), dst)
        state = DeltaState(dst)
        state.load_heads()
        return state

    def setup(self, warm: bool) -> None:
        import pandas as pd
        ctx, spark = self.ctx, self.ctx.spark
        self.committed = set(pd.read_parquet(
            ctx.base("documents.parquet"), columns=["doc_id"])["doc_id"])
        self.meta = read_json(ctx.path("delta_batches", "batches.json"))
        pages = spark.read.parquet(ctx.path("delta_batches", "pages"))
        self.batches = [pages.where(pages["batch"] == i).drop("batch")
                        for i in range(len(self.meta))]
        if warm:
            # batch 0 into a throwaway copy of the committed state
            ingest(ctx, self._restore("warm"), self.batches[0])
            ctx.runner.release_cached()
        self.state = self._restore("live")
        self.next = 1

    def has_next(self) -> bool:
        return self.next < len(self.batches)

    def at_boundary(self) -> bool:
        return True

    def op(self) -> Op:
        i = self.next
        self.next += 1
        t0 = time.perf_counter()
        psnap, tsnap = ingest(self.ctx, self.state, self.batches[i])
        dt = time.perf_counter() - t0
        added = tsnap["summary"]["added_rows"] if tsnap else 0
        return Op(dt, self.meta[i]["pages"], added, "delta",
                  (i, self.state.heads, psnap, tsnap))

    def check(self, op: Op) -> bool:
        """The batch committed exactly its new and changed pages, in
        both stages, and the mapping is the canonical one for every
        document committed so far."""
        from pyspark.sql import functions as F
        spark = self.ctx.spark
        i, heads, psnap, tsnap = op.detail
        want = set(self.meta[i]["commit"])
        self.state.load_heads()
        if psnap is None or tsnap is None:
            return False
        got = []
        for tab, head, snap in ((self.state.parse, heads[0], psnap),
                                (self.state.triples, heads[1], tsnap)):
            got.append({r["url"] for r in tab.incremental(
                spark, head, snap["snapshot_id"])
                .select("url").distinct().collect()})
        self.committed |= _doc_ids_of(want)
        members = {u for d in self.committed if d % 4
                   for u in (d, d - 1)}
        doc_id = F.regexp_extract("uri", r"/doc/(\d+)$", 1).cast("long")
        canon = F.concat(F.lit("https://example.org/res/doc/"),
                         (doc_id - doc_id % 4).cast("string"))
        m = (self.state.mapping.read(spark)
             .agg(F.count(F.lit(1)),
                  F.sum((F.col("canonical_uri") != canon).cast("int")))
             .first())
        return (got[0] == want and got[1] == want
                and m[0] == len(members) and m[1] == 0)


def ingest_base(ctx: Context, state: DeltaState, pages,
                sameas_components) -> None:
    """The committed starting state: the whole corpus through both
    stages, and the full sameAs mapping of its triples."""
    from ferenda_spark.operators.incremental import run_stage_atomic
    parsed, _, _ = run_stage_atomic(pages, state.store, "parse",
                                    _parse_t(ctx))
    out, _, _ = run_stage_atomic(parsed.drop("input_fingerprint"),
                                 state.store, "triples", _triples_t(ctx),
                                 source_col="text")
    state.mapping.create(sameas_components(out))


# ------------------------------------------------------------- query

class KgQuery:
    """A seeded mix of lookups and whole-graph queries over the sink
    a build of the fixed corpus left."""

    name = "kg_query"

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def generate(self) -> None:
        ctx = self.ctx
        docs = write_corpus(ctx, ctx.base_dir)
        qdir = ctx.path("queries")
        if not os.path.exists(os.path.join(qdir, "queries.json")):
            os.makedirs(qdir, exist_ok=True)
            write_json(os.path.join(qdir, "queries.json"),
                       query_stream(ctx.scale, ctx.seed, docs))
        proc = _start_oracle(ctx.base("documents.parquet"), qdir)

        def make_sink(tmp):
            build_kg(ctx, ctx.spark.read.parquet(ctx.base("pages")), tmp)
        _once(ctx.base("sink"), make_sink)
        _wait_oracle(proc)

    def setup(self, warm: bool) -> None:
        qdir = self.ctx.path("queries")
        self.queries = read_json(os.path.join(qdir, "queries.json"))
        self.expected = read_json(
            os.path.join(qdir, "oracle.json"))["queries"]
        self.sink = self.ctx.base("sink", "triples")
        self.ctx.spark.read.parquet(self.sink).count()
        self.next = 0
        if warm:
            # the first cycle of the stream; after only one query of
            # each template, a second timed cycle still ran about 10 %
            # faster than the first
            for q in self.queries[:CYCLE]:
                self._run(q)
            self.next = CYCLE

    def has_next(self) -> bool:
        return self.next < len(self.queries)

    def at_boundary(self) -> bool:
        """Whole cycles of the stream (every template in its share)."""
        return self.next % CYCLE == 0

    def _run(self, q: dict) -> tuple:
        from ferenda_spark.sparql import sparql_construct, sparql_select
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span(q["template"], "sparql") as a:
            df = spark.read.parquet(self.sink)
            t0 = time.perf_counter()
            if q["sparql"].lstrip().startswith("CONSTRUCT"):
                res = sparql_construct(df, q["sparql"])
            else:
                res = sparql_select(df, q["sparql"])
            t1 = time.perf_counter()
            rows = res.collect()
            if self.ctx.traced:
                a["compile_ms"] = (t1 - t0) * 1000.0
                a["exec_ms"] = (time.perf_counter() - t1) * 1000.0
                a["rows_returned"] = len(rows)
        return rows

    def op(self) -> Op:
        q = self.queries[self.next]
        self.next += 1
        t0 = time.perf_counter()
        rows = self._run(q)
        dt = time.perf_counter() - t0
        return Op(dt, 1, len(rows), q["kind"], (q, rows))

    def check(self, op: Op) -> bool:
        q, rows = op.detail
        key = (q["template"] + " " + q["uri"] if q["kind"] == "lookup"
               else q["template"])
        return rows_digest([tuple(r) for r in rows]) == self.expected[key]


WORKLOADS = {w.name: w for w in (KgBuild, KgDelta, KgQuery)}
