"""Spark stage for full RFC distillation: pages of RFC-layout text ->
reference-equivalent (subj, pred, obj) triples.

The per-document logic lives in :mod:`ferenda_spark.rfcdistill`
(exact-parity with the reference's distilled goldens, P/R 1.0); this
wraps it in the engine's standard row-mapper stage shape
(``rowmap.map_rows``): one Arrow batch in, one triples batch out,
per-row error quarantine, no shuffle
(SURVEY.md §2.10, I4/X10).  The triples schema matches
operators.triples so distilled output unions straight into the KG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..rfcdistill import distill_rfc
from ..rowmap import map_rows

TRIPLES_SCHEMA = ("subj string, pred string, obj string, "
                  "obj_kind string, obj_datatype string, "
                  "obj_lang string, context string, error string")


def _distill_row(url, basefile, text):
    try:
        for s, p, o in distill_rfc(text, basefile):
            if o[0] == "uri":
                yield (s, p, o[1], "uri", None, None, url, None)
            else:
                yield (s, p, o[1], "lit", o[3], o[2], url, None)
    except Exception as e:  # quarantine, never abort the corpus
        yield (None, None, None, None, None, None, url,
               "%s: %s" % (type(e).__name__, e))


def distill_rfc_pages(pages: DataFrame,
                      basefile_col: str = "basefile") -> DataFrame:
    """pages(url, basefile, text) -> distilled triples (+ error rows).
    Embarrassingly parallel; partitioning flows through."""
    return map_rows(pages.select("url", basefile_col, "text"), _distill_row,
                    TRIPLES_SCHEMA)
