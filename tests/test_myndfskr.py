"""Agency-regulation metadata distill vs the reference's own
test/files/myndfskr/*.txt -> .n3 golden pairs (all 19), mirroring its
integrationMyndFskr harness: every golden triple must be produced
(assertEqualGraphs exact=False semantics — the reference's own output
also carries extras like dcterms:issn that the goldens omit)."""

import glob
import os

import pytest

from ferenda_spark.myndfskr import parse_fs_text
from ferenda_spark.turtle import parse_turtle

FIXDIR = "/root/reference/test/files/myndfskr"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXDIR), reason="reference fixtures not present")

XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"


def _got_set(triples):
    out = set()
    for s, p, o, kind in triples:
        if kind == "uri":
            out.add((s, p, ("uri", o)))
        elif kind == "date":
            out.add((s, p, ("lit", o, None, XSD_DATE)))
        elif kind == "lit@sv":
            out.add((s, p, ("lit", o, "sv", None)))
        else:
            out.add((s, p, ("lit", o, None, None)))
    return out


def _fixtures():
    return sorted(os.path.basename(f)[:-4]
                  for f in glob.glob(FIXDIR + "/*.txt"))


@pytest.mark.parametrize("name", _fixtures())
def test_fs_metadata_contains_all_golden_triples(name):
    basefile = name.replace("-", "/", 1).replace("-", ":")
    text = open(FIXDIR + "/%s.txt" % name, encoding="utf-8").read()
    got = _got_set(parse_fs_text(text, basefile))
    want = parse_turtle(open(FIXDIR + "/%s.n3" % name,
                             encoding="utf-8").read())
    missing = want - got
    assert not missing, "missing %d golden triples: %s" % (
        len(missing), sorted(missing)[:3])


def test_fs_metadata_spark_stage(tmp_path):
    """The map_rows stage over all 19 fixture texts produces the
    same triple multiset as the pure function."""
    from ferenda_spark.session import get_spark
    from ferenda_spark.myndfskr import fs_metadata
    spark = get_spark(app="myndfskr-tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    expected = set()
    for name in _fixtures():
        basefile = name.replace("-", "/", 1).replace("-", ":")
        text = open(FIXDIR + "/%s.txt" % name, encoding="utf-8").read()
        rows.append((basefile, text))
        for t in parse_fs_text(text, basefile):
            expected.add((basefile,) + t)
    docs = spark.createDataFrame(rows, "basefile string, text string")
    got = {(r.basefile, r.subj, r.pred, r.obj, r.objtype)
           for r in fs_metadata(docs).collect()}
    assert got == expected
    assert len({b for b, *_ in got}) == 19


def test_swedish_date_forms():
    from ferenda_spark.myndfskr import parse_swedish_date
    import datetime
    assert parse_swedish_date("31 januari 2008") == \
        datetime.date(2008, 1, 31)
    assert parse_swedish_date("vid utgången av maj 2015") == \
        datetime.date(2015, 5, 31)
    assert parse_swedish_date("vid utgången av år 2006") == \
        datetime.date(2006, 12, 31)
    assert parse_swedish_date("8 dec. 1997") == \
        datetime.date(1997, 12, 8)
    assert parse_swedish_date("7juni 2007") == \
        datetime.date(2007, 6, 7)
