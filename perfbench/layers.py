"""Per-layer metrics of a traced run.

Each figure is per operation: the layer's total over the run divided
by the number of traced operations that called the layer.  A layer the
workload never calls reports 0, except ``incremental`` and
``snaptable``: only kg_delta calls them, so a traced run of another
workload measures them on one smoke-scale kg_delta probe operation
(``run.probe_delta``), and those figures describe the probe.
"""

from __future__ import annotations

import os

from spans import LAYERS, layer_totals

# name of the probe operation's span
PROBE = "probe-kg_delta"

GENERIC = (("wall_ms", "ms"), ("self_ms", "ms"), ("jobs", "count"),
           ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
           ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))

# layer -> (metric, unit, span attribute summed per operation)
ATTRS = {
    "extract": (("pages", "count", "pages"),
                ("quarantined", "count", "quarantined")),
    "triples": (("rows_out", "count", "rows_out"),),
    "canonicalize": (("rows_out", "count", "rows_out"),),
    "catalog": (("files_written", "count", "files_written"),
                ("bytes_written", "bytes", "bytes_written")),
    "incremental": (("pages_delivered", "count", "pages_delivered"),
                    ("pages_processed", "count", "pages_processed")),
    "snaptable": (("files_added", "count", "files_added"),
                  ("snapshots", "count", "snapshots")),
    "sparql": (("compile_ms", "ms", "compile_ms"),
               ("exec_ms", "ms", "exec_ms"),
               ("rows_returned", "count", "rows_returned")),
}


def _root(span, by_id):
    while span["parent"] is not None:
        span = by_id[span["parent"]]
    return span["id"]


# layers only kg_delta calls, measured on its probe operation in a
# traced run of another workload
PROBED = ("incremental", "snaptable")


def per_layer(spans, workload: str, groups: dict, n_slots: int,
              session_start_s: float, jvm_rss_mb: float,
              untraced_ms: float, traced_ms: float) -> dict:
    """name -> (value, unit) of every per-layer metric."""
    by_id = {s["id"]: s for s in spans}
    op = {s["id"]: by_id[_root(s, by_id)]["name"] for s in spans}

    def keep(s):
        """Spans under the workload's own operations, and, for the
        layers only kg_delta calls, those under the probe."""
        return (op[s["id"]] == workload
                or (s["layer"] in PROBED and op[s["id"]] == PROBE))
    totals = layer_totals(spans, groups, keep)
    ops: dict = {}
    attrs: dict = {}
    for s in filter(keep, spans):
        ops.setdefault(s["layer"], set()).add(_root(s, by_id))
        acc = attrs.setdefault(s["layer"], {})
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)):
                acc[k] = acc.get(k, 0) + v
        if s["layer"] == "incremental":
            key = "%s_wall_ms" % s["attrs"].get("stage", "")
            acc[key] = acc.get(key, 0) + (s["end"] - s["start"]) * 1000.0
        if s["layer"] == "snaptable":
            key = ("read_ms" if s["name"] in ("read", "incremental")
                   else "commit_ms")
            acc[key] = acc.get(key, 0) + (s["end"] - s["start"]) * 1000.0
    out = {"session.start_ms": (session_start_s * 1000.0, "ms"),
           "session.jvm_peak_rss_mb": (jvm_rss_mb, "MB")}
    for layer in LAYERS:
        n = max(len(ops.get(layer, ())), 1)
        t = totals.get(layer, {})
        a = attrs.get(layer, {})
        for m, unit in GENERIC:
            out["%s.%s" % (layer, m)] = (t.get(m, 0.0) / n, unit)
        for m, unit, key in ATTRS.get(layer, ()):
            out["%s.%s" % (layer, m)] = (a.get(key, 0) / n, unit)
        if layer == "extract":
            wall = t.get("wall_ms", 0.0)
            out["extract.slot_busy_ratio"] = (
                t.get("run_ms", 0.0) / (wall * n_slots) if wall else 0.0,
                "ratio")
        elif layer == "catalog":
            out["catalog.rows_written"] = (t.get("records_written", 0) / n,
                                           "count")
        elif layer == "incremental":
            out["incremental.committed_rows_scanned"] = (
                t.get("state_rows", 0) / n, "count")
            for stage in ("parse", "triples"):
                k = "%s_wall_ms" % stage
                out["incremental." + k] = (a.get(k, 0.0) / n, "ms")
            delivered = a.get("pages_delivered", 0)
            out["incremental.useful_ratio"] = (
                a.get("pages_processed", 0) / delivered if delivered
                else 0.0, "ratio")
        elif layer == "snaptable":
            for k in ("commit_ms", "read_ms"):
                out["snaptable." + k] = (a.get(k, 0.0) / n, "ms")
        elif layer == "sparql":
            out["sparql.files_read"] = (t.get("files_read", 0) / n, "count")
            out["sparql.rows_scanned"] = (t.get("scan_rows", 0) / n, "count")
    out["tracing.overhead_ms"] = (traced_ms - untraced_ms, "ms")
    out["tracing.overhead_ratio"] = (
        (traced_ms - untraced_ms) / untraced_ms, "ratio")
    return out


def snaptable_post(name, args, result, attrs) -> None:
    """Span counts for a SnapshotTable call: data files a commit added
    and the number of commits."""
    if name in ("read", "incremental") or not isinstance(result, dict):
        return
    tab = args[0]
    attrs["snapshots"] = 1
    attrs["files_added"] = sum(
        sum(1 for _, _, fs in os.walk(os.path.join(tab.path, "data",
                                                   u["unit"]))
            for f in fs if f.endswith(".parquet"))
        for u in result["manifest"]
        if u.get("added_snapshot_id") == result["snapshot_id"])
