"""Snapshot-versioned stage tables: an Iceberg-shaped commit protocol
over parquet (format spec follows the public Apache Iceberg table-spec
concepts: metadata-file pointer swap, snapshot log, per-file manifests
with column bounds; implemented stdlib-only because the sandbox has no
Iceberg runtime jar — session.py notes where the catalog configs go in
production).

Why this exists (north rule): "every stage checkpoints to Iceberg with
per-partition lineage and counters so the DAG is resumable mid-run".
catalog.write_triples gives a plain overwrite sink; this module adds the
transactional half the production deployment gets from Iceberg:

* **atomic commits** — data files land first under ``data/u-<uuid>``,
  then a new ``metadata/v<N>.json`` is published by hard-linking a
  fully-fsynced temp file into place (compare-and-swap on the version
  number: optimistic concurrency, a losing concurrent writer gets
  :class:`CommitConflict`, never a half-visible table).  A crash
  between data write and metadata publish leaves an orphan directory
  that no reader ever sees (reclaimed by :meth:`SnapshotTable.expire`).
  The full torn-file-free guarantee requires a POSIX filesystem with
  hard links; on link-less mounts (object-store FUSE, some NFS) the
  publish falls back to ``O_CREAT|O_EXCL`` — mutual exclusion holds,
  but a crash mid-publish can leave a torn head version that readers
  skip and :meth:`SnapshotTable.repair_torn_head` reclaims.  (In
  production this whole protocol is the Iceberg catalog's job — see
  session.py.)
* **snapshot isolation + time travel** — readers resolve the current
  metadata version once; ``read(snapshot_id=...)`` / ``read(as_of_ms=
  ...)`` reproduce any retained historical state (the reference's
  versioned archive semantics, S3/W2, generalized from per-document to
  per-table: ferenda documentstore.py archive_path keeps every prior
  version; here every prior *table state* is addressable).
* **manifests with column bounds** — each committed data unit records
  row count and min/max for the declared ``stats_cols``;
  :meth:`scan` prunes whole units whose bounds cannot match (the
  Iceberg file-pruning story — at 10^12 rows this is what turns a
  key-range lookup from a full scan into a handful of files).
* **incremental scan** — ``incremental(from_id, to_id)`` reads exactly
  the rows appended between two snapshots (the cluster analogue of the
  entries-table anti-join in operators/incremental.py: downstream
  stages consume only the delta).  Refuses ranges containing
  non-append snapshots, as Iceberg's incremental scan does.
* **copy-on-write MERGE** — :meth:`merge` upserts on a key, rewriting
  ONLY the data units whose key bounds overlap the incoming batch and
  carrying every other unit forward by reference (no data movement for
  untouched files — the property that makes MERGE affordable on a
  100 TB table).

Layout::

    table/
      data/u-<uuid>/part-*.parquet      one directory per commit
      metadata/v<N>.json                full metadata at version N
      metadata/version-hint.text        best-effort pointer (recovery
                                        scans for max v<N>.json)
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

FORMAT_VERSION = 1


def _jsonable(v):
    """Manifest bounds keep the column's natural type when JSON can
    carry it (ints/floats/strings order correctly on read-back);
    everything else (dates, timestamps) falls back to its ISO string,
    which orders correctly lexicographically for those types."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


class CommitConflict(Exception):
    """Another writer committed the next metadata version first."""


class SnapshotError(Exception):
    pass


def _meta_path(path: str, version: int) -> str:
    return os.path.join(path, "metadata", "v%d.json" % version)


class SnapshotTable:
    """Handle on a snapshot-versioned table rooted at ``path``.

    The handle is stateless between operations: every read/commit
    re-resolves the current metadata version from disk, so concurrent
    handles on the same path behave like independent Iceberg clients.
    """

    def __init__(self, path: str):
        self.path = path

    # ------------------------------------------------------ metadata

    def _current_version(self) -> int:
        """Recover the current version: the hint file is advisory (its
        update is not part of the commit), the metadata files are the
        truth — scan for the max published v<N>.json."""
        mdir = os.path.join(self.path, "metadata")
        if not os.path.isdir(mdir):
            return 0
        versions = [int(f[1:-5]) for f in os.listdir(mdir)
                    if f.startswith("v") and f.endswith(".json")
                    and f[1:-5].isdigit()]
        return max(versions, default=0)

    def _load(self) -> dict:
        """Resolve and parse the current metadata.  Only the NEWEST
        version can be unparsable (a torn head from a crash inside the
        link-less ``_publish`` fallback — published versions are never
        rewritten), so a parse failure at the max version falls back to
        its predecessor rather than bricking every read.  Writers stay
        wedged behind the torn file (its version number is claimed);
        :meth:`repair_torn_head` removes it after the operator confirms
        no writer is still mid-publish."""
        versions = self._current_version()
        if versions == 0:
            raise SnapshotError("no such table: %s" % self.path)
        for v in range(versions, 0, -1):
            try:
                with open(_meta_path(self.path, v)) as fh:
                    meta = json.load(fh)
            except FileNotFoundError:
                continue
            except ValueError:
                if v == versions:
                    continue        # torn head — fall back one version
                raise SnapshotError(
                    "corrupt non-head metadata v%d under %s"
                    % (v, self.path))
            meta["_version"] = v
            return meta
        raise SnapshotError("no readable metadata under %s" % self.path)

    def repair_torn_head(self) -> bool:
        """Remove a torn (unparsable) max-version metadata file so the
        next commit can claim its version number.  Operator-invoked
        recovery for the link-less ``_publish`` fallback; returns True
        if a torn head was removed.  Only call once no writer can still
        be mid-publish — an in-flight writer's target would be deleted
        from under it (its commit is then lost, never half-applied)."""
        v = self._current_version()
        if v == 0:
            return False
        try:
            with open(_meta_path(self.path, v)) as fh:
                json.load(fh)
            return False
        except ValueError:
            os.unlink(_meta_path(self.path, v))
            return True

    def exists(self) -> bool:
        return self._current_version() > 0

    def _publish(self, meta: dict, expected_version: int) -> None:
        """Compare-and-swap commit.  The metadata content is written
        and fsynced to a hidden temp file FIRST, then linked to
        v<expected+1> — ``os.link`` is atomic and fails with EEXIST
        when a concurrent writer won the version race, so the new
        version either appears complete or not at all (a crash
        mid-write leaves only an invisible temp file, never a
        truncated max-version metadata file that would brick every
        subsequent read).  The hint rewrite after it is best-effort
        (readers recover from the metadata dir).

        On filesystems without hard links (object-store FUSE mounts,
        some NFS exports) ``os.link`` raises EPERM/ENOTSUP/ENOSYS; the
        fallback publishes via ``O_CREAT|O_EXCL``, which keeps the
        version-number mutual exclusion but writes the payload through
        the exclusive fd — a crash inside that window can leave a TORN
        max-version file.  Readers skip a torn head (see
        :meth:`_load`); :meth:`repair_torn_head` unwedges writers."""
        meta = {k: v for k, v in meta.items() if not k.startswith("_")}
        payload = json.dumps(meta, indent=1)
        mdir = os.path.join(self.path, "metadata")
        os.makedirs(mdir, exist_ok=True)
        target = _meta_path(self.path, expected_version + 1)
        tmp = os.path.join(mdir, ".tmp-%s" % uuid.uuid4().hex)
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        conflict = CommitConflict(
            "metadata version %d already published under %s"
            % (expected_version + 1, self.path))
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise conflict
        except OSError as exc:
            if exc.errno not in (errno.EPERM, errno.ENOTSUP,
                                 errno.EOPNOTSUPP, errno.ENOSYS,
                                 errno.EMLINK, errno.EXDEV):
                raise
            try:
                fd = os.open(target,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                raise conflict from None
            with os.fdopen(fd, "w") as fh:
                fh.write(payload)
                fh.flush()
                os.fsync(fh.fileno())
        finally:
            os.unlink(tmp)
        hint_tmp = os.path.join(mdir, ".hint-%s" % uuid.uuid4().hex)
        with open(hint_tmp, "w") as fh:
            fh.write(str(expected_version + 1))
        os.replace(hint_tmp, os.path.join(mdir, "version-hint.text"))

    # ----------------------------------------------------- data units

    def _write_unit(self, df: DataFrame, partition_by: tuple,
                    stats_cols: tuple) -> dict:
        """Write one data unit and return its manifest entry: rows are
        on disk but invisible until a metadata version references the
        unit.  Stats are folded into the write job itself via
        ``df.observe`` (computed while the rows stream to parquet —
        no second scan of the input DAG), and the bounds-describe-disk
        property is kept with a count-only read-back: parquet footer
        row counts are compared against the observed count, so a
        short write cannot publish bounds for rows that never landed.
        (The previous shape re-read every stat column after the write,
        which re-evaluated upstream once more per unit and doubled
        commit latency on expensive DAGs — the r4 bench regression on
        ``kg_snapshot_incremental``.)"""
        from pyspark.sql import Observation
        unit = "u-" + uuid.uuid4().hex
        full = os.path.join(self.path, "data", unit)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in stats_cols:
            aggs.append(F.min(F.col(c)).alias("__lo_" + c))
            aggs.append(F.max(F.col(c)).alias("__hi_" + c))
        obs = Observation("unit_" + unit)
        w = df.observe(obs, *aggs).write.mode("error")
        if partition_by:
            w = w.partitionBy(*list(partition_by))
        w.parquet(full)
        row = obs.get
        n_disk = df.sparkSession.read.parquet(full).count()
        if n_disk != row["__n"]:
            raise IOError(
                "unit %s: wrote %d rows but %d observed — refusing to "
                "publish bounds that do not describe the disk"
                % (unit, n_disk, row["__n"]))
        bounds = {c: [_jsonable(row["__lo_" + c]),
                      _jsonable(row["__hi_" + c])]
                  for c in stats_cols}
        return {"unit": unit, "row_count": row["__n"], "bounds": bounds}

    def _snapshot(self, meta: dict, operation: str, units: list,
                  added: list, parent_id: int | None = None) -> dict:
        # ids must never be reused, even after rollback + expire drops
        # snapshots from the log (a caller-stored id resolving to
        # DIFFERENT data would be silent corruption) — take the max of
        # the persisted high-water counter and the surviving log
        snap_id = 1 + max(
            meta.get("last_snapshot_id", 0),
            max((s["snapshot_id"] for s in meta["snapshots"]),
                default=0))
        total = sum(u["row_count"] for u in units)
        return {
            "snapshot_id": snap_id,
            "parent_id": parent_id,
            "operation": operation,
            "timestamp_ms": int(time.time() * 1000),
            "manifest": units,
            "summary": {
                "added_units": len(added),
                "added_rows": sum(u["row_count"] for u in added),
                "total_units": len(units),
                "total_rows": total,
            },
        }

    def _commit(self, meta: dict | None, operation: str,
                carried: list, added: list, schema_json: str = None,
                partition_by: tuple = (), stats_cols: tuple = (),
                ref: str = "main") -> dict:
        if meta is None:
            meta = {"format_version": FORMAT_VERSION,
                    "table_uuid": uuid.uuid4().hex,
                    "schema_json": schema_json,
                    "partition_by": list(partition_by),
                    "stats_cols": list(stats_cols),
                    "current_snapshot_id": None,
                    "snapshots": [],
                    "_version": 0}
        if ref == "main":
            parent = meta["current_snapshot_id"]
        else:
            parent = self._ref_entry(meta, ref,
                                     want_type="branch")["snapshot_id"]
        units = [dict(u) for u in carried] + [
            dict(u, added_snapshot_id=None) for u in added]
        snap = self._snapshot(meta, operation, units, added,
                              parent_id=parent)
        for u in units:
            if u.get("added_snapshot_id") is None:
                u["added_snapshot_id"] = snap["snapshot_id"]
        snap["manifest"] = units
        new = dict(meta)
        if ref == "main":
            new["current_snapshot_id"] = snap["snapshot_id"]
        else:
            refs = dict(new.get("refs", {}))
            refs[ref] = {"snapshot_id": snap["snapshot_id"],
                         "type": "branch"}
            new["refs"] = refs
        new["last_snapshot_id"] = snap["snapshot_id"]
        new["snapshots"] = meta["snapshots"] + [snap]
        self._publish(new, meta["_version"])
        return snap

    # --------------------------------------------------- named refs

    def _ref_entry(self, meta: dict, name: str,
                   want_type: str = None) -> dict:
        entry = meta.get("refs", {}).get(name)
        if entry is None:
            raise SnapshotError("unknown ref %r" % name)
        if want_type is not None and entry["type"] != want_type:
            raise SnapshotError(
                "ref %r is a %s, need a %s"
                % (name, entry["type"], want_type))
        return entry

    def _create_ref(self, name: str, kind: str,
                    snapshot_id: int | None) -> dict:
        """Shared tag/branch creation: a named pointer into the
        snapshot log (Iceberg refs).  Tags are immutable; branches
        advance when written with ``append(..., ref=name)``.  The ref
        map rides the same CAS metadata commit as everything else."""
        if name == "main":
            raise SnapshotError("'main' is the implicit current ref")
        meta = self._load()
        if name in meta.get("refs", {}):
            raise SnapshotError("ref %r already exists" % name)
        sid = (meta["current_snapshot_id"] if snapshot_id is None
               else snapshot_id)
        if not any(s["snapshot_id"] == sid for s in meta["snapshots"]):
            raise SnapshotError("unknown snapshot %d" % sid)
        new = dict(meta)
        refs = dict(new.get("refs", {}))
        refs[name] = {"snapshot_id": sid, "type": kind}
        new["refs"] = refs
        self._publish(new, meta["_version"])
        return refs[name]

    def create_tag(self, name: str,
                   snapshot_id: int | None = None) -> dict:
        """Immutable named pointer (Iceberg tag), default = current."""
        return self._create_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str,
                      snapshot_id: int | None = None) -> dict:
        """Mutable named pointer (Iceberg branch): subsequent
        ``append(df, ref=name)`` commits advance the branch head
        without touching main."""
        return self._create_ref(name, "branch", snapshot_id)

    def drop_ref(self, name: str) -> None:
        meta = self._load()
        self._ref_entry(meta, name)
        new = dict(meta)
        refs = dict(new["refs"])
        del refs[name]
        new["refs"] = refs
        self._publish(new, meta["_version"])

    def refs(self) -> dict:
        """Name -> {snapshot_id, type} for every named ref."""
        return dict(self._load().get("refs", {}))

    def fast_forward(self, name: str) -> int:
        """Advance main to a branch head, Iceberg fastForward
        semantics: legal only when main's current snapshot is an
        ANCESTOR of the branch head (otherwise the branch diverged
        and a fast-forward would silently drop main commits).
        Returns the new current snapshot id."""
        meta = self._load()
        head = self._ref_entry(meta, name, want_type="branch")
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        cur = by_id.get(head["snapshot_id"])
        ancestors = set()
        while cur is not None:
            ancestors.add(cur["snapshot_id"])
            cur = by_id.get(cur["parent_id"])
        if meta["current_snapshot_id"] not in ancestors:
            raise SnapshotError(
                "cannot fast-forward: main is not an ancestor of %r"
                % name)
        new = dict(meta)
        new["current_snapshot_id"] = head["snapshot_id"]
        self._publish(new, meta["_version"])
        return head["snapshot_id"]

    # ------------------------------------------------------- writes

    def create(self, df: DataFrame, partition_by: tuple = (),
               stats_cols: tuple = ()) -> dict:
        """Create the table with ``df`` as snapshot 1."""
        if self.exists():
            raise SnapshotError("table already exists: %s" % self.path)
        unit = self._write_unit(df, partition_by, stats_cols)
        return self._commit(None, "create", [], [unit],
                            schema_json=df.schema.json(),
                            partition_by=tuple(partition_by),
                            stats_cols=tuple(stats_cols))

    def version(self) -> int:
        """Current readable metadata version (0 if the table does not
        exist) — the token for conditional commits."""
        return self._load()["_version"] if self.exists() else 0

    def _align_schema(self, meta: dict, df: DataFrame) -> DataFrame:
        """Schema evolution on write (Iceberg add-column semantics):
        NEW incoming columns widen the table schema — recorded in the
        SAME atomic commit as the data, so readers never see data the
        schema cannot describe; columns the incoming frame lacks fill
        with typed NULLs; changing an existing column's type is
        rejected (Iceberg requires an explicit ALTER for that)."""
        table = StructType.fromJson(json.loads(meta["schema_json"]))
        by_name = {f.name: f for f in table.fields}
        new_fields = []
        for f in df.schema.fields:
            cur = by_name.get(f.name)
            if cur is None:
                new_fields.append(f)
            elif cur.dataType != f.dataType:
                raise SnapshotError(
                    "schema evolution cannot change %s: %s -> %s"
                    % (f.name, cur.dataType.simpleString(),
                       f.dataType.simpleString()))
        evolved = StructType(list(table.fields) + new_fields)
        if new_fields:
            meta["schema_json"] = evolved.json()
        have = set(df.columns)
        return df.select(*[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in evolved.fields])

    def append(self, df: DataFrame,
               expected_version: int | None = None,
               ref: str = "main") -> dict:
        """Append ``df`` as one data unit.  With ``expected_version``
        the commit is CONDITIONAL on the table still being at that
        metadata version: if another writer advanced it since the
        caller read its state, :class:`CommitConflict` is raised
        BEFORE any data is written, so read-check-append protocols
        (operators/incremental.run_stage_atomic) can re-derive their
        batch against the new head instead of committing logical
        duplicates.  The publish-time CAS still backstops the residual
        load-to-publish race either way."""
        meta = self._load()
        if (expected_version is not None
                and meta["_version"] != expected_version):
            raise CommitConflict(
                "table advanced to v%d (expected v%d) under %s"
                % (meta["_version"], expected_version, self.path))
        df = self._align_schema(meta, df)
        unit = self._write_unit(df, tuple(meta["partition_by"]),
                                tuple(meta["stats_cols"]))
        if ref == "main":
            base = self._current_snap(meta)
        else:
            head = self._ref_entry(meta, ref, want_type="branch")
            base = self._resolve(meta, head["snapshot_id"])
        return self._commit(meta, "append", base["manifest"], [unit],
                            ref=ref)

    def overwrite(self, df: DataFrame) -> dict:
        """Replace the table contents (prior snapshots stay readable
        until expired)."""
        meta = self._load()
        df = self._align_schema(meta, df)
        unit = self._write_unit(df, tuple(meta["partition_by"]),
                                tuple(meta["stats_cols"]))
        return self._commit(meta, "overwrite", [], [unit])

    def merge(self, new_df: DataFrame, key_cols: tuple) -> dict:
        """Copy-on-write upsert on ``key_cols``: rows of the current
        snapshot whose key matches an incoming row are replaced, all
        other rows survive.  Only data units whose recorded bounds on
        ``key_cols[0]`` overlap the incoming key range are rewritten;
        every other unit is carried forward by reference — the on-disk
        bytes of untouched files never move (the Iceberg MERGE INTO
        shape)."""
        meta = self._load()
        snap = self._current_snap(meta)
        keys = list(key_cols)
        k0 = keys[0]
        spark = new_df.sparkSession
        row = new_df.agg(F.min(F.col(k0)).alias("lo"),
                         F.max(F.col(k0)).alias("hi")).collect()[0]
        lo, hi = _jsonable(row.lo), _jsonable(row.hi)
        affected, carried = [], []
        for u in snap["manifest"]:
            b = u.get("bounds", {}).get(k0)
            if lo is None:          # empty incoming batch: no-op merge
                carried.append(u)
            elif b is None or b[0] is None:
                affected.append(u)  # no stats -> conservatively rewrite
            elif b[1] < lo or b[0] > hi:
                carried.append(u)
            else:
                affected.append(u)
        added = []
        if affected or lo is not None:
            parts = [os.path.join(self.path, "data", u["unit"])
                     for u in affected]
            cols = [f["name"] for f in
                    json.loads(meta["schema_json"])["fields"]]
            if parts:
                old = spark.read.parquet(*parts)
                kept = old.join(new_df.select(*keys).distinct(), keys,
                                "left_anti")
                out = kept.select(*cols).unionByName(
                    new_df.select(*cols))
            else:
                out = new_df.select(*cols)
            added = [self._write_unit(out, tuple(meta["partition_by"]),
                                      tuple(meta["stats_cols"]))]
        return self._commit(meta, "merge", carried, added)

    def compact(self, spark: SparkSession, min_units: int = 2,
                sort_by: str = None,
                target_units: int = 1) -> dict | None:
        """Small-files maintenance: rewrite the current snapshot's
        data units (logical contents unchanged).  Incremental ingest
        (run_stage_atomic, streaming batches) accretes one unit per
        commit; at scale the resulting small-file count degrades scan
        planning, so periodic compaction is part of the table's
        lifecycle exactly as in Iceberg's rewrite_data_files.

        ``sort_by`` additionally CLUSTERS the rewrite: rows are
        range-bucketed on that column into ``target_units`` units with
        DISJOINT bounds, so a later :meth:`scan` on the column prunes
        whole units instead of reading everything (Iceberg's sort/
        z-order rewrite; include the column in ``stats_cols`` or the
        recorded bounds cannot help).  Bucketing uses ntile over a
        global sort — deterministic; the production-scale shape is
        repartitionByRange's sampled boundaries, noted here because a
        maintenance job may prefer sampling over an exact sort at
        10^12 rows.  No-op (returns None) when the table already has
        fewer than ``min_units`` units."""
        meta = self._load()
        snap = self._current_snap(meta)
        if len(snap["manifest"]) < max(min_units, 2):
            return None
        df = self._read_units(spark, meta, snap["manifest"])
        part = tuple(meta["partition_by"])
        stats = tuple(meta["stats_cols"])
        if sort_by is None or target_units <= 1:
            added = [self._write_unit(
                df.orderBy(sort_by) if sort_by else df, part, stats)]
        else:
            from pyspark.sql import Window
            w = Window.orderBy(F.col(sort_by))
            bucketed = (df.withColumn("__b",
                                      F.ntile(target_units).over(w))
                        .localCheckpoint())
            added = []
            for i in range(1, target_units + 1):
                chunk = (bucketed.where(F.col("__b") == i)
                         .drop("__b").orderBy(sort_by))
                if chunk.limit(1).count():
                    added.append(self._write_unit(chunk, part, stats))
        return self._commit(meta, "compact", [], added)

    def rollback(self, snapshot_id: int) -> None:
        """Point the table back at a prior snapshot (a new metadata
        version — the forward history stays on disk until expired)."""
        meta = self._load()
        if not any(s["snapshot_id"] == snapshot_id
                   for s in meta["snapshots"]):
            raise SnapshotError("unknown snapshot %d" % snapshot_id)
        new = dict(meta)
        new["current_snapshot_id"] = snapshot_id
        self._publish(new, meta["_version"])

    # -------------------------------------------------------- reads

    def _current_snap(self, meta: dict) -> dict:
        sid = meta["current_snapshot_id"]
        return next(s for s in meta["snapshots"]
                    if s["snapshot_id"] == sid)

    def _resolve(self, meta: dict, snapshot_id: int = None,
                 as_of_ms: int = None, ref: str = None) -> dict:
        if ref is not None:
            snapshot_id = self._ref_entry(meta, ref)["snapshot_id"]
        if snapshot_id is not None:
            for s in meta["snapshots"]:
                if s["snapshot_id"] == snapshot_id:
                    return s
            raise SnapshotError("unknown snapshot %d" % snapshot_id)
        if as_of_ms is not None:
            # time travel follows the CURRENT lineage (as Iceberg's
            # snapshot log does after a rollback) — a snapshot on an
            # undone branch is addressable by id until expired, but
            # never resolved by timestamp
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            chain, cur = [], self._current_snap(meta)
            while cur is not None:
                chain.append(cur)
                cur = by_id.get(cur["parent_id"])
            live = [s for s in reversed(chain)
                    if s["timestamp_ms"] <= as_of_ms]
            if not live:
                raise SnapshotError("no snapshot at or before %d"
                                    % as_of_ms)
            return live[-1]
        return self._current_snap(meta)

    def _read_units(self, spark: SparkSession, meta: dict,
                    units: list) -> DataFrame:
        paths = [os.path.join(self.path, "data", u["unit"])
                 for u in units]
        schema = StructType.fromJson(json.loads(meta["schema_json"]))
        if not paths:
            return spark.createDataFrame([], schema)
        # mergeSchema unions units written before/after a schema
        # evolution; the select aligns every read to the DECLARED
        # schema (typed NULLs for columns older units never carried)
        raw = spark.read.option("mergeSchema", "true").parquet(*paths)
        have = set(raw.columns)
        return raw.select(*[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields])

    def read(self, spark: SparkSession, snapshot_id: int = None,
             as_of_ms: int = None, ref: str = None) -> DataFrame:
        meta = self._load()
        snap = self._resolve(meta, snapshot_id, as_of_ms, ref=ref)
        return self._read_units(spark, meta, snap["manifest"])

    def scan(self, spark: SparkSession, col: str, lo, hi):
        """Bounds-pruned scan: (DataFrame of rows with ``lo <= col <=
        hi``, number of data units skipped by manifest bounds alone).
        ``lo``/``hi`` are in the column's natural type.  Units without
        recorded bounds for ``col`` are read conservatively; the
        residual filter stays on the frame so the result is exact
        either way."""
        meta = self._load()
        snap = self._current_snap(meta)
        lo, hi = _jsonable(lo), _jsonable(hi)
        keep, skipped = [], 0
        for u in snap["manifest"]:
            b = u.get("bounds", {}).get(col)
            if b and b[0] is not None and (b[1] < lo or b[0] > hi):
                skipped += 1
            else:
                keep.append(u)
        df = self._read_units(spark, meta, keep)
        cond = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        return df.where(cond), skipped

    def incremental(self, spark: SparkSession, from_id: int,
                    to_id: int) -> DataFrame:
        """Rows appended by snapshots in ``(from_id, to_id]``.  Walks
        the parent chain; any overwrite/merge in the range makes
        "appended rows" ill-defined at the file level, so it raises
        (Iceberg's incremental scan contract)."""
        meta = self._load()
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        if to_id not in by_id:
            raise SnapshotError("unknown snapshot %d" % to_id)
        chain, cur = [], by_id[to_id]
        while cur is not None and cur["snapshot_id"] != from_id:
            chain.append(cur)
            cur = by_id.get(cur["parent_id"])
        if cur is None and from_id is not None:
            raise SnapshotError(
                "snapshot %d is not an ancestor of %d" % (from_id, to_id))
        bad = [s["snapshot_id"] for s in chain
               if s["operation"] not in ("append", "create")]
        if bad:
            raise SnapshotError(
                "incremental range contains non-append snapshots: %s"
                % bad)
        units = [u for s in chain for u in s["manifest"]
                 if u["added_snapshot_id"] == s["snapshot_id"]]
        return self._read_units(spark, meta, units)

    # -------------------------------------------------- maintenance

    def history(self) -> list:
        meta = self._load()
        cur = meta["current_snapshot_id"]
        return [{"snapshot_id": s["snapshot_id"],
                 "parent_id": s["parent_id"],
                 "operation": s["operation"],
                 "timestamp_ms": s["timestamp_ms"],
                 "is_current": s["snapshot_id"] == cur,
                 **s["summary"]} for s in meta["snapshots"]]

    def expire(self, keep_last: int = 1,
               orphan_grace_s: float = 3600.0) -> dict:
        """Retain the current snapshot's ancestor chain truncated to
        ``keep_last`` entries; drop every other snapshot from the log
        and reclaim data directories.  Ordering matters for crash
        safety: the trimmed metadata is PUBLISHED FIRST (and a losing
        CAS race aborts before anything is deleted), so no committed
        metadata version ever references deleted files.  Two classes
        of reclaim after the publish:

        * units referenced only by the just-dropped snapshots — they
          were committed and are now expired, no writer owns them;
        * true orphans (referenced by NO snapshot — crashed writers)
          — deleted only when older than ``orphan_grace_s`` seconds,
          because an identical-looking directory belongs to a LIVE
          concurrent writer between its data write and its metadata
          publish (Iceberg's orphan-file removal uses the same age
          guard).  Tests pass 0 to reclaim immediately.

        Returns counts for the caller's bookkeeping."""
        meta = self._load()
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        keep, cur = [], by_id.get(meta["current_snapshot_id"])
        while cur is not None and len(keep) < max(keep_last, 1):
            keep.append(cur)
            cur = by_id.get(cur["parent_id"])
        # every named ref pins snapshots: a tag pins its target; a
        # BRANCH pins its whole surviving ancestor chain — the chain
        # is what proves main-is-an-ancestor in fast_forward, so
        # pruning intermediate branch snapshots would make a legal
        # fast-forward unprovable (Iceberg likewise retains per-ref
        # history).  Chain length is bounded by the branch's commits
        # since divergence, and walking stops early at a snapshot
        # already kept.
        kept_ids = {s["snapshot_id"] for s in keep}
        for entry in meta.get("refs", {}).values():
            cur = by_id.get(entry["snapshot_id"])
            while cur is not None and cur["snapshot_id"] not in kept_ids:
                keep.append(cur)
                kept_ids.add(cur["snapshot_id"])
                if entry["type"] != "branch":
                    break
                cur = by_id.get(cur["parent_id"])
        keep_ids = {s["snapshot_id"] for s in keep}
        live_units = {u["unit"] for s in keep for u in s["manifest"]}
        expired_units = {u["unit"] for s in meta["snapshots"]
                         if s["snapshot_id"] not in keep_ids
                         for u in s["manifest"]} - live_units
        new = dict(meta)
        new["snapshots"] = [s for s in meta["snapshots"]
                            if s["snapshot_id"] in keep_ids]
        self._publish(new, meta["_version"])   # raises on CAS loss
        ddir = os.path.join(self.path, "data")
        removed = 0
        now = time.time()
        for unit in (os.listdir(ddir) if os.path.isdir(ddir) else []):
            if unit in live_units:
                continue
            full = os.path.join(ddir, unit)
            if unit not in expired_units:      # true orphan: age-gate
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age < orphan_grace_s:
                    continue
            shutil.rmtree(full)
            removed += 1
        return {"removed_units": removed,
                "retained_snapshots": len(keep)}
