"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction query; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the DuckDB
equivalent over the same parquet tables.  Both are built from the
query registry (``ferenda_spark/registry/``), where each query is
declared once, beside its oracle.

The KG queries operate on a deterministic `pages` corpus derived from
the driver's `documents` table (ferenda_spark/corpus.py): every planted
fact is a closed-form function of doc_id, so the oracle can compute the
*expected* triples in pure SQL while the Spark side recovers them by
actually parsing the generated HTML (FSM, citation scanning, entity
linking, connected components).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ferenda_spark.registry import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction + faceted_data pivot at sf0.001 (the
    registered, oracle-checked ``kg_faceted_data`` query)."""
    return queries()["kg_faceted_data"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in QUERIES.items()
            if sql is not None}
