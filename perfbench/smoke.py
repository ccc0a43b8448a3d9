"""Smoke test of the benchmark at sf0.001 size (500 documents).

    python3 perfbench/smoke.py

Run from the root of a source checkout.  Runs every workload once,
untraced (kg_delta too, which BENCHMARK.json does not gate), and
kg_build once traced; checks that each prints every
metric BENCHMARK.json names, with its unit, and that outputs check
correct.  Then plants a wrong output (one triple dropped before the
sink) and checks that it is counted as failed.  Exits non-zero on the
first problem.
"""

from __future__ import annotations

import json
import os
import sys

from run import run

HERE = os.path.dirname(os.path.abspath(__file__))


def expect(cond: bool, what: str) -> None:
    if not cond:
        print("smoke: FAILED: " + what, file=sys.stderr)
        sys.exit(1)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".perfbench_work")
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        names = {m["name"]: m["unit"] for m in spec[key]}
        workloads = ["kg_build", "kg_delta", "kg_query"] if not trace \
            else ["kg_build"]
        for w in workloads:
            res = run(w, 1, 1.0, trace, work, scale_name="smoke")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == names, "%s trace=%d metrics %s != %s"
                   % (w, trace, sorted(got), sorted(names)))
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, "%s: %s" % (w, res))
            print("smoke: %s trace=%d ok, %d operations"
                  % (w, trace, res["attempted"]))
    res = run("kg_build", 1, 1.0, False, work, scale_name="smoke",
              drop_one=True)
    expect(not res["correct"] and res["failed"] == res["attempted"] >= 1,
           "planted dropped triple not counted as failed: %s" % res)
    print("smoke: planted dropped triple counted as failed")
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip the teardown, where pyarrow's native threads now and then
    # abort the process (see run.py)
    os._exit(rc)
