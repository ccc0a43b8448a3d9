"""Knowledge-graph benchmark for ferenda_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  Workloads: kg_build (full
build, sink included), kg_delta (small batches into committed stage
tables), kg_query (SPARQL over the built sink).  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are the
per-layer metrics, and the spans go to
``.perfbench_work/trace/<run id>.spans.jsonl``.  A human-readable
report, with sample counts, goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
# host steal (%) above which the report flags an operation as having
# run next to a co-tenant burst
STEAL_FLAG_PCT = 3.0


def _pctl(values, q: float) -> float:
    """Nearest-rank percentile; ``inf`` entries (failed operations)
    sort last."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))]


class Loop:
    """The closed timed loop: one client, each operation after the
    previous one completes.  Records per-operation wall time, the
    process-tree CPU spent inside it, and the host steal during it."""

    def __init__(self, workload, runner, tracer):
        self.wl = workload
        self.runner = runner
        self.tracer = tracer
        self.ops = []   # failed operations as None

    def run(self, seconds: float) -> None:
        """Operations until ``seconds`` have passed and the workload is
        at a boundary of its input stream, or the stream ends."""
        from harness import cpu_times, steal_pct, tree_cpu_s
        deadline = time.perf_counter() + seconds
        while self.wl.has_next() and (
                time.perf_counter() < deadline or not self.wl.at_boundary()):
            s0, c0 = cpu_times(), tree_cpu_s()
            try:
                with self.tracer.span(self.wl.name, "op"):
                    op = self.wl.op()
            except Exception:
                traceback.print_exc()
                op = None
            if op is not None:
                op.cpu_s = tree_cpu_s() - c0
                op.steal_pct = steal_pct(s0, cpu_times())
                try:
                    with self.tracer.paused():
                        op.ok = self.wl.check(op)
                except Exception:
                    traceback.print_exc()
                op.detail = None
            self.ops.append(op)
            self.runner.release_cached()

    def median_ms(self) -> float:
        return statistics.median(o.seconds * 1000.0
                                 for o in self.ops if o is not None)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o is None or not o.ok)

    def latencies_ms(self, kinds=None) -> list:
        """Operation latencies; a failed operation counts as missing
        every percentile (``inf``)."""
        return [o.seconds * 1000.0 if o is not None and o.ok
                else float("inf")
                for o in self.ops if o is None or kinds is None
                or o.kind in kinds]

    def wall_s(self) -> float:
        return sum(o.seconds for o in self.ops if o is not None)

    def items(self) -> int:
        return sum(o.items for o in self.ops if o is not None and o.ok)

    def triples(self) -> int:
        return sum(o.triples for o in self.ops if o is not None and o.ok)


def end_to_end(loop: Loop, setup_s: float, cpu_items: int, rss_mb: float,
               heap_mb: float) -> dict:
    wall = loop.wall_s()
    # on kg_query the lookups: their three templates each take a third,
    # so their median lies inside the middle template's cluster, where
    # the median of all queries would fall in the gap between two
    p50_ops = loop.latencies_ms({"lookup"} if loop.wl.name == "kg_query"
                                else None)
    return {
        "setup_s": (setup_s, "s", 1),
        "items_per_s": (loop.items() / wall, "items/s", len(loop.ops)),
        "triples_per_s": (loop.triples() / wall, "triples/s",
                          len(loop.ops)),
        "op_p50_ms": (statistics.median(p50_ops), "ms", len(p50_ops)),
        "cpu_ms_per_item": (sum(o.cpu_s for o in loop.ops if o) * 1000.0
                            / max(cpu_items, 1), "ms", len(loop.ops)),
        "py_peak_rss_mb": (rss_mb, "MB", 1),
        "heap_live_mb": (heap_mb, "MB", 1),
    }


def workload_report(name: str, loop: Loop) -> dict:
    """The workload's own names for its figures (informational)."""
    n = len(loop.ops)
    wall = loop.wall_s()
    out = {}
    if name == "kg_build":
        out["triples_per_s"] = (loop.triples() / wall, "triples/s", n)
        out["pages_per_s"] = (loop.items() / wall, "pages/s", n)
    elif name == "kg_delta":
        out["pages_per_s"] = (loop.items() / wall, "pages/s", n)
        out["delta_p50_ms"] = (statistics.median(loop.latencies_ms()),
                               "ms", n)
    else:
        look = loop.latencies_ms({"lookup"})
        ana = loop.latencies_ms({"analytic"})
        out["queries_per_s"] = (n / wall, "queries/s", n)
        out["lookup_p50_ms"] = (statistics.median(look), "ms", len(look))
        # reported only with at least ten samples beyond it
        if len(look) >= 100:
            out["lookup_p90_ms"] = (_pctl(look, 0.9), "ms", len(look))
        out["analytic_p50_ms"] = (statistics.median(ana), "ms", len(ana))
    out["failed_ops_ratio"] = (loop.failed / n, "ratio", n)
    return out


def report(title: str, metrics: dict) -> None:
    print("# %s" % title, file=sys.stderr)
    for k, (v, unit, n) in metrics.items():
        print("  %-34s %14.4f %-10s n=%d" % (k, v, unit, n),
              file=sys.stderr)


def run(workload: str, seed: int, seconds: float, trace: bool,
        work_dir: str, scale_name: str = "full", drop_one: bool = False):
    """One benchmark run; returns the result object."""
    import harness
    from inputs import SCALES
    from spans import Tracer
    from workloads import WORKLOADS, Context

    run_id = "%s-%d-%d" % (workload, seed, int(time.time()))
    trace_dir = os.path.join(work_dir, "trace")
    log_dir = os.path.join(trace_dir, run_id) if trace else None
    runner = harness.SparkRunner(work_dir, harness.slots(), log_dir)
    tracer = Tracer(None, run_id)
    ctx = Context(runner, tracer, SCALES[scale_name], seed, work_dir)
    wl = WORKLOADS[workload](ctx, **({"drop_one": True} if drop_one else {}))
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "generate.py"),
                    work_dir, workload, str(seed), scale_name,
                    str(int(trace))], check=True)
    generate_s = time.perf_counter() - t0
    steal0 = harness.cpu_times()
    try:
        # set-up: JVM launch and session start, input load, restore of
        # the committed state, and one untimed warm-up operation, so
        # the timed ones run in a JVM that has run the workload
        t0 = time.perf_counter()
        runner.start()
        session_start_s = time.perf_counter() - t0
        tracer.spark = runner.spark
        wl.setup(warm=True)
        runner.release_cached()
        setup_s = time.perf_counter() - t0
        harness.reset_peak_rss(harness.python_pids())
        loop = Loop(wl, runner, tracer)
        if trace:
            # an untraced then a traced half: the difference of their
            # median operation times is the tracing overhead
            loop.run(seconds / 2.0)
            traced = Loop(wl, runner, tracer)
            with traced_layers(tracer):
                traced.run(seconds / 2.0)
                probes = ([] if workload == "kg_delta"
                          else [probe_delta(runner, tracer, work_dir)])
        else:
            loop.run(seconds)
        rss_mb = harness.peak_rss_mb(harness.python_pids())
        jvm_rss_mb = harness.peak_rss_mb(harness.java_pids())
        heaps = runner.heap_live_mb()
    finally:
        runner.close()
    steal = harness.steal_pct(steal0, harness.cpu_times())
    cpu_items = sum(o.items for o in loop.ops if o is not None)
    e2e = end_to_end(loop, setup_s, cpu_items, rss_mb, heaps[-1])
    report("%s seed=%d end-to-end" % (workload, seed), e2e)
    report("%s seed=%d workload figures" % (workload, seed),
           workload_report(workload, loop))
    for name, vals in (("heap after GCs (MB)", heaps),
                       ("operations (ms)", [o.seconds * 1000.0
                                            for o in loop.ops if o])):
        print("  %s: %s" % (name, " ".join("%.1f" % x for x in vals)),
              file=sys.stderr)
    print("  input generation (s): %.1f   set-up (s): %.1f"
          % (generate_s, setup_s), file=sys.stderr)
    print("  host steal %%: %.2f   slots: %d   operations above %.0f %% "
          "steal: %d of %d" % (steal, runner.n_slots, STEAL_FLAG_PCT,
                               sum(1 for o in loop.ops
                                   if o and o.steal_pct > STEAL_FLAG_PCT),
                               len(loop.ops)), file=sys.stderr)
    ops = loop.ops
    if trace:
        from layers import per_layer
        from spans import event_log_metrics
        tracer.write(os.path.join(trace_dir, run_id + ".spans.jsonl"))
        metrics = per_layer(tracer.spans, workload,
                            event_log_metrics(
                                log_dir, os.path.join(work_dir, "run", "")),
                            runner.n_slots, session_start_s, jvm_rss_mb,
                            loop.median_ms(), traced.median_ms())
        report("%s seed=%d per-layer (per traced operation)"
               % (workload, seed),
               {k: (v, u, 1) for k, (v, u) in metrics.items()})
        ops = loop.ops + traced.ops + probes
    else:
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
    failed = sum(1 for o in ops if o is None or not o.ok)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


@contextlib.contextmanager
def traced_layers(tracer):
    """Tracing on, with spans around the snapshot-table calls that
    ``run_stage_atomic`` makes."""
    from ferenda_spark.snaptable import SnapshotTable
    from layers import snaptable_post
    tracer.enabled = True
    try:
        with tracer.wrapping(SnapshotTable, ("create", "append", "overwrite",
                                             "read", "incremental"),
                             "snaptable", post=snaptable_post):
            yield
    finally:
        tracer.enabled = False


def probe_delta(runner, tracer, work_dir: str):
    """One traced kg_delta operation at smoke scale, for the layers
    only kg_delta calls (``layers.PROBED``).  Its inputs are fixed and
    written once per checkout."""
    from inputs import BASE_SEED, SCALES
    from layers import PROBE
    from workloads import Context, KgDelta
    probe = KgDelta(Context(runner, tracer, SCALES["smoke"], BASE_SEED,
                            work_dir))
    with tracer.paused():
        probe.setup(warm=False)
    with tracer.span(PROBE, "op"):
        op = probe.op()
    with tracer.paused():
        op.ok = probe.check(op)
    runner.release_cached()
    return op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "kg_delta", "kg_query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ferenda_spark", "__init__.py")):
        print("perfbench: run from the root of a ferenda_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work_dir = os.path.join(root, ".perfbench_work")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 work_dir)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # every child has been waited for and every file closed: skip the
    # interpreter's teardown, where pyarrow's native threads now and
    # then abort the process ("terminate called without an active
    # exception") after the work is done
    os._exit(rc)
