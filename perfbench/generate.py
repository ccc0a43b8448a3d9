"""Writes the inputs of one benchmark run, in a process of its own.

    python3 perfbench/generate.py <work dir> <workload> <seed> <scale> <trace>

Run from the root of a source checkout; ``run.py`` runs it before it
starts its own JVM.  Inputs that exist are kept, and Spark starts only
if something has to be written with it.  So the run's set-up always
starts a fresh JVM, whatever this process did.
"""

from __future__ import annotations

import os
import sys


def main(argv) -> int:
    work_dir, workload, seed, scale, trace = argv
    sys.path.insert(0, os.getcwd())
    import harness
    from inputs import BASE_SEED, SCALES
    from spans import Tracer
    from workloads import WORKLOADS, Context, KgDelta

    runner = harness.SparkRunner(work_dir, harness.slots())
    tracer = Tracer(None, "generate")
    try:
        WORKLOADS[workload](Context(runner, tracer, SCALES[scale],
                                    int(seed), work_dir)).generate()
        if trace == "1" and workload != "kg_delta":
            # the probe operation of a traced run
            KgDelta(Context(runner, tracer, SCALES["smoke"], BASE_SEED,
                            work_dir)).generate()
    finally:
        runner.close()
    return 0


if __name__ == "__main__":
    rc = main(sys.argv[1:])
    sys.stdout.flush()
    sys.stderr.flush()
    # every child has been waited for and every file closed: skip the
    # interpreter's teardown, where pyarrow's native threads now and
    # then abort the process ("terminate called without an active
    # exception") after the work is done
    os._exit(rc)
