#!/usr/bin/env python
"""spark-submit entrypoint for the flagship KG-construction DAG
(north rule: "run via spark-submit --py-files on a multi-executor
cluster").  Usage::

    sh scripts/make_pyfiles.sh
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/ferenda_spark.zip \
        scripts/submit_flagship.py --sf <pages dir> --out <store dir>

The session comes from spark-submit's own conf (getOrCreate) — the
library never overrides master/memory settings handed down by the
launcher.  The job is ``pipeline.flagship`` with ``--out`` as its
store: parse and triples commit as resumable snapshot stages
(``parse_snap``, ``triples_snap``), so re-submitting after a kill
reprocesses only the pending inputs of the unfinished stage, and the
canonical triples land in ``<out>/triples`` (bucketed parquet; on a
cluster the same writer targets an Iceberg table).  It prints one JSON
line with row counts, snapshot counts and wall time so submissions
are scriptable."""

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="pages/documents dir")
    ap.add_argument("--out", required=True, help="store dir (writable)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName(
        "ferenda-spark-flagship").getOrCreate()

    from ferenda_spark.corpus import load_pages
    from ferenda_spark.pipeline import flagship
    from ferenda_spark.snaptable import SnapshotTable
    t0 = time.time()
    n = flagship(spark, load_pages(spark, args.sf), store=args.out).count()
    wall = time.time() - t0
    print(json.dumps({
        "job": "flagship",
        "sf": args.sf, "out": args.out,
        "triples": n, "wall_sec": round(wall, 2),
        "triples_per_sec": round(n / wall, 1),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        **{"%s_snapshots" % s: len(SnapshotTable(
            os.path.join(args.out, s + "_snap")).history())
           for s in ("parse", "triples")},
    }))
    spark.stop()
    return 0 if n > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
