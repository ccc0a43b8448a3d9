"""Expected outputs, computed with DuckDB and no Spark.

The canonical KG is the repo's own closed-form oracle,
``oracle_sql()["kg_canonical_triples"]``, evaluated over the generated
``documents`` table; query expectations are plain SQL over that
table.  Run as a separate process so its memory never counts toward
the benchmark's RSS:

    python3 perfbench/oracle.py <documents.parquet> <out_dir>

reads the documents (and ``<out_dir>/queries.json`` when present) and
writes ``<out_dir>/oracle.json``.
"""

from __future__ import annotations

import hashlib
import os
import sys

NULL = "<NULL>"
SEP = "\x1f"
TRIPLE_COLS = ("subj", "pred", "obj", "obj_datatype", "obj_lang", "context")

DCT = "http://purl.org/dc/terms/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
BIBO_DOC = "http://purl.org/ontology/bibo/Document"


def row_key(row) -> str:
    return SEP.join(NULL if v is None else str(v) for v in row)


def rows_digest(rows) -> dict:
    """Order-insensitive fingerprint of a result: row count and the
    sha256 of its sorted rows."""
    keys = sorted(row_key(r) for r in rows)
    h = hashlib.sha256("\n".join(keys).encode("utf-8")).hexdigest()
    return {"rows": len(keys), "sha256": h}


def triples_digest_sql(table: str) -> str:
    """(count, digest_a, digest_b) of a triples table: sums of two
    32-bit slices of md5 over each row's columns.  Mirrored in Spark
    by ``workloads.sink_digest``."""
    cols = ", ".join("coalesce(%s, '%s')" % (c, NULL) for c in TRIPLE_COLS)
    row = "md5(concat_ws(chr(31), %s))" % cols
    return ("SELECT count(*), "
            "sum(('0x' || substr(%s, 1, 8))::BIGINT), "
            "sum(('0x' || substr(%s, 9, 8))::BIGINT) FROM %s"
            % (row, row, table))


def _lookup_sql(template: str) -> str:
    if template == "doc_triples":
        return "SELECT DISTINCT pred, obj FROM kg WHERE subj = $uri"
    if template == "doc_refs":
        return ("SELECT DISTINCT a.subj, b.obj FROM kg a JOIN kg b "
                "ON a.subj = b.subj WHERE a.pred = '%sisPartOf' "
                "AND a.obj = $uri AND b.pred = '%sreferences'"
                % (DCT, DCT))
    if template == "titles":
        return ("SELECT DISTINCT obj FROM kg WHERE subj = $uri "
                "AND pred = '%stitle'" % DCT)
    raise ValueError(template)


def _refs_of_publisher(pub: str) -> str:
    return ("FROM kg a JOIN kg b ON a.subj = b.subj "
            "JOIN kg c ON c.subj = a.obj "
            "WHERE a.pred = '{d}isPartOf' AND b.pred = '{d}references' "
            "AND c.pred = '{d}publisher' "
            "AND c.obj = 'https://example.org/res/org/{p}'"
            .format(d=DCT, p=pub))


ANALYTIC_SQL = {
    "bgp3": "SELECT DISTINCT a.subj, b.obj, a.obj "
            + _refs_of_publisher("pub3"),
    "group_having": ("SELECT obj, count(*) FROM kg "
                     "WHERE pred = '%sisPartOf' GROUP BY obj "
                     "HAVING count(*) > 6" % DCT),
    "path": ("WITH RECURSIVE r(part, doc) AS ("
             " SELECT DISTINCT subj, subj FROM kg"
             " WHERE pred = '%s' AND obj = '%s'"
             " UNION SELECT k.subj, r.doc FROM kg k JOIN r"
             " ON k.obj = r.part WHERE k.pred = '%sisPartOf')"
             " SELECT DISTINCT part, doc FROM r" % (RDF_TYPE, BIBO_DOC, DCT)),
    "construct": ("SELECT DISTINCT a.obj, '%sreferences', b.obj "
                  % DCT + _refs_of_publisher("pub5")),
}


def compute(documents_path: str, out_dir: str) -> dict:
    import duckdb
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from __spark_entry__ import oracle_sql

    from inputs import read_json, write_json

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "read_parquet('%s')" % documents_path)
    con.execute("CREATE TABLE kg AS "
                + oracle_sql()["kg_canonical_triples"])
    n, a, b = con.execute(triples_digest_sql("kg")).fetchone()
    out = {"kg": {"rows": int(n), "digest": [int(a), int(b)]}}
    qpath = os.path.join(out_dir, "queries.json")
    if os.path.exists(qpath):
        expected = {}
        for q in read_json(qpath):
            if q["kind"] == "lookup":
                key = q["template"] + " " + q["uri"]
                if key not in expected:
                    rows = con.execute(_lookup_sql(q["template"]),
                                       {"uri": q["uri"]}).fetchall()
                    expected[key] = rows_digest(rows)
            elif q["template"] not in expected:
                rows = con.execute(ANALYTIC_SQL[q["template"]]).fetchall()
                expected[q["template"]] = rows_digest(rows)
        out["queries"] = expected
    con.close()
    write_json(os.path.join(out_dir, "oracle.json"), out)
    return out


if __name__ == "__main__":
    compute(sys.argv[1], sys.argv[2])
    sys.stdout.flush()
    # oracle.json is written: skip the teardown, where pyarrow's native
    # threads now and then abort the process (see run.py)
    os._exit(0)
