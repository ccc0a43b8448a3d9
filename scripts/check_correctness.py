#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle_sql on DuckDB over the
same parquet tables, compare row-count + column names + order-
insensitive values.  Usage:

    python scripts/check_correctness.py [--sf DIR] [--query NAME] [-v]
"""

from __future__ import annotations

import argparse
import decimal
import math
import sys
import time

sys.path.insert(0, ".")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(df, strict=False):
    """pandas DF -> sorted-by-name columns, canonical row multiset.

    ``strict`` formats floats at full precision (repr) instead of
    %.6g — this reproduces the driver's exact value-hash comparison,
    which has twice caught ulp-level Spark-vs-DuckDB divergence that
    the 6-significant-digit view hides."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("∅")
            elif isinstance(v, (float, decimal.Decimal)):
                row.append(repr(float(v)) if strict
                           else "%.6g" % float(v))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat()[:26])
            else:
                row.append(str(v))
        rows.append("\x1f".join(row))
    rows.sort()
    return list(df.columns), rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--query", default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--strict", action="store_true",
                    help="full-precision float compare (driver mode)")
    args = ap.parse_args()

    import duckdb
    import __spark_entry__ as entry
    from ferenda_spark.session import get_spark

    spark = get_spark(app="correctness", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, args.sf, t))

    qs = entry.queries()
    oracles = entry.oracle_sql()
    # --query takes one name or a comma-separated list (lets long
    # full-corpus verifications at larger SFs run in bounded chunks)
    names = (args.query.split(",") if args.query else list(qs))
    failed = []
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, args.sf).toPandas()
        except Exception as e:
            print("FAIL %-28s spark error: %s" % (name, str(e)[:2000]))
            failed.append(name)
            continue
        if name not in oracles:
            print("ROWS %-28s %6d rows (no oracle) %.1fs"
                  % (name, len(got), time.time() - t0))
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print("FAIL %-28s oracle error: %s" % (name, str(e)[:2000]))
            failed.append(name)
            continue
        gcols, grows = normalize(got, strict=args.strict)
        wcols, wrows = normalize(want, strict=args.strict)
        status = []
        if gcols != wcols:
            status.append("cols %r vs %r" % (gcols, wcols))
        if len(grows) != len(wrows):
            status.append("rows %d vs %d" % (len(grows), len(wrows)))
        if not status and grows != wrows:
            diff_g = [r for r in grows if r not in set(wrows)][:3]
            diff_w = [r for r in wrows if r not in set(grows)][:3]
            status.append("values differ; spark-only=%r oracle-only=%r"
                          % (diff_g, diff_w))
        if status:
            print("FAIL %-28s %s" % (name, "; ".join(status)[:500]))
            failed.append(name)
        else:
            print("OK   %-28s %6d rows  %.1fs"
                  % (name, len(grows), time.time() - t0))
    # a rows-only query (no oracle) only proves that it runs: count it
    # apart from the oracle-checked passes
    rows_only = [n for n in names if n not in oracles]
    n_checked = len(names) - len(rows_only)
    n_ok = n_checked - len([n for n in failed if n in oracles])
    print("\n%d/%d oracle-checked passed, %d rows-only%s"
          % (n_ok, n_checked, len(rows_only),
             ", %d failed" % len(failed) if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
