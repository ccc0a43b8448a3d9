"""Spans around the benchmark's calls into each layer, and per-layer
Spark task metrics read back from a local event log.

A span records name, layer, start, end, parent and run id; spans stay
in memory and are written out once, at the end of the run.  Every
span sets a Spark job group named after it, so each job (and its
tasks) in the event log belongs to the innermost span that started
it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

LAYERS = ("extract", "triples", "canonicalize", "catalog", "incremental",
          "snaptable", "sparql")

# summed from each task's "Task Metrics" in the event log
TASK_FIELDS = ("task_cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
               "records_written", "run_ms")
# summed from the SQL metrics of the file scans the jobs ran
SQL_FIELDS = ("files_read", "scan_rows", "state_rows")


class Tracer:
    """The spans of one run.  Off until ``enabled`` is set."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self.enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time one call into ``layer``; a no-op while disabled."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "start": time.time(), "end": None,
               "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup("span-%d" % rec["id"], layer)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup("span-%d" % parent["id"], parent["layer"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def paused(self):
        """No spans inside the block (the benchmark's own checks)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextlib.contextmanager
    def wrapping(self, owner, names, layer: str, post=None):
        """Put a span around each method ``owner.<name>`` while the
        block runs: for calls the benchmark cannot wrap itself, because
        a library function makes them.  ``post(name, args, result,
        attrs)`` may add counts to the span."""
        saved = {n: owner.__dict__[n] for n in names}

        def wrap(name, fn):
            @functools.wraps(fn)
            def inner(*a, **kw):
                with self.span(name, layer) as attrs:
                    result = fn(*a, **kw)
                    if post is not None and self.enabled:
                        post(name, a, result, attrs)
                    return result
            return inner

        for n, fn in saved.items():
            setattr(owner, n, wrap(n, fn))
        try:
            yield
        finally:
            for n, fn in saved.items():
                setattr(owner, n, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans) -> dict:
    """span id -> duration minus the part its child spans cover
    (children of one span never overlap: the benchmark is one
    thread)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def _plan_nodes(info):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _scan_keys(event: dict, state_prefix: str) -> dict:
    """accumulator id -> per-group keys it adds to, for the file scans
    of one SQL plan: ``files_read`` (the scan's "number of files read",
    after pruning), ``scan_rows`` (rows the scan returned) and
    ``state_rows`` (the same, for scans of tables under
    ``state_prefix``)."""
    out = {}
    for node in _plan_nodes(event.get("sparkPlanInfo") or {}):
        if not node.get("nodeName", "").startswith("Scan"):
            continue
        location = node.get("metadata", {}).get("Location", "")
        for m in node.get("metrics", ()):
            if m["name"] == "number of files read":
                out[m["accumulatorId"]] = ("files_read",)
            elif m["name"] == "number of output rows":
                out[m["accumulatorId"]] = (
                    ("scan_rows", "state_rows") if state_prefix in location
                    else ("scan_rows",))
    return out


def _num(x) -> float:
    return float(x) if x not in (None, "") else 0.0


def event_log_metrics(log_dir: str, state_prefix: str) -> dict:
    """job group -> {jobs, <TASK_FIELDS>, <SQL_FIELDS>}, summed over
    every finished task of every job started in that group, and, for
    the SQL scan metrics, over the driver's updates of the SQL
    executions those jobs ran.  ``state_prefix`` is the directory of
    the committed tables (see :func:`_scan_keys`)."""
    out: dict = {}
    # one events file per session start, possibly inside an
    # eventlog_v2_* directory (rolling layout); stage, execution and
    # accumulator ids are unique within one file
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events"))
    for path in paths:
        stage_group, exec_group, acc_keys, driver = {}, {}, {}, []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith(("SQLExecutionStart",
                                  "SQLAdaptiveExecutionUpdate")):
                    acc_keys.update(_scan_keys(ev, state_prefix))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver.append(ev)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if not group:
                        continue
                    acc = out.setdefault(group, dict.fromkeys(
                        ("jobs",) + TASK_FIELDS + SQL_FIELDS, 0))
                    acc["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        exec_group[props["spark.sql.execution.id"]] = group
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out[group]
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    acc["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0))
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    acc["records_written"] += m.get(
                        "Output Metrics", {}).get("Records Written", 0)
                    for a in (ev.get("Task Info") or {}).get(
                            "Accumulables", ()):
                        for key in acc_keys.get(a.get("ID"), ()):
                            acc[key] += _num(a.get("Update"))
        # driver-side scan metrics (files read) name their execution,
        # whose jobs may start after the update
        for ev in driver:
            group = exec_group.get(str(ev.get("executionId")))
            if group is None:
                continue
            for acc_id, value in ev.get("accumUpdates", ()):
                for key in acc_keys.get(acc_id, ()):
                    out[group][key] += _num(value)
    return out


def layer_totals(spans, groups: dict, keep=lambda span: True) -> dict:
    """layer -> {wall_ms, self_ms, spans, jobs, <TASK_FIELDS>,
    <SQL_FIELDS>} over the spans ``keep`` accepts, where wall_ms sums
    the layer's outermost spans (a layer span nested in a span of the
    same layer is not counted twice).  Self time subtracts every child
    span, kept or not."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict = {}
    for s in spans:
        if not keep(s):
            continue
        acc = out.setdefault(s["layer"], dict.fromkeys(
            ("wall_ms", "self_ms", "spans", "jobs") + TASK_FIELDS
            + SQL_FIELDS, 0.0))
        parent = by_id.get(s["parent"])
        nested = False
        while parent is not None:
            if parent["layer"] == s["layer"]:
                nested = True
                break
            parent = by_id.get(parent["parent"])
        if not nested:
            acc["wall_ms"] += (s["end"] - s["start"]) * 1000.0
            acc["spans"] += 1
        acc["self_ms"] += selfs[s["id"]] * 1000.0
        for k, v in groups.get("span-%d" % s["id"], {}).items():
            acc[k] += v
    return out
